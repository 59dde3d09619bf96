package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.collection.immutable.ArraySeq

/** Scalable global ordering primitives: dense global row numbering without
  * a single-partition window, plus the two classic consumers — equi-depth
  * (quantile) binning and sorted-neighborhood duplicate blocking.
  *
  * A naive `row_number().over(Window.orderBy(...))` funnels the WHOLE input
  * through one task — the textbook 100 TB scale-killer. [[globalRank]]
  * instead is the two-phase `RDD.zipWithIndex` shape: range-repartition +
  * in-partition sort on the total order, then zipWithIndex, whose
  * per-partition start offsets come from one O(#partitions) count job.
  *
  * Why the RDD primitive and not a relational two-job formulation
  * (`monotonically_increasing_id` + a counts aggregate joined back): the
  * relational version executes the range exchange TWICE — Catalyst's column
  * pruning makes the counts subtree structurally different from the data
  * subtree, so ReuseExchange/AQE stage dedup never fires (verified on the
  * executed plan: two materialized `Exchange rangepartitioning` stages) —
  * and `repartitionByRange` SAMPLES its bounds per execution, so the two
  * executions can disagree on partition boundaries and the offsets no
  * longer match the local indices they are added to. With zipWithIndex the
  * physical RDD is constructed once: bounds are sampled once, the count job
  * and every downstream action share the same shuffle files (the second job
  * sees a skipped map stage), and the offsets are consistent by
  * construction. This is the one place SURVEY §7.1's "RDD only for genuine
  * per-partition imperative logic" applies.
  *
  * Note: calling [[globalRank]] is EAGER (zipWithIndex runs the bounds
  * sampling + count jobs immediately); the returned DataFrame re-reads the
  * already-materialized shuffle on each downstream action.
  *
  * The reference has no ordering surface beyond Postgres-side ORDER BY
  * (`/root/reference/sql.py:22-23`); this module is part of the
  * training-data extension set (shuffle-bounded global ranking is what
  * makes sorted-neighborhood dedup and equi-depth feature binning runnable
  * on a full corpus).
  */
object RankOps {

  /** Appends `rankCol` = 1-based dense position of the row in the total
    * order defined by `orderCols`. `orderCols` MUST be a total order (add a
    * unique id as the last key) — equal keys straddling a partition
    * boundary would otherwise make the rank depend on sampled range bounds.
    *
    * Cost: one range shuffle of the data + one O(#partitions) count job
    * over the same shuffle files. No single-partition stage anywhere.
    */
  def globalRank(
      df: DataFrame,
      orderCols: Seq[Column],
      rankCol: String = "global_rank",
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = StructType(
      sorted.schema.fields :+ StructField(rankCol, LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(indexed, schema)
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95): rows are
    * globally ordered by a blocking key and every pair within a sliding
    * window of `window` positions becomes a candidate. Emits each qualifying
    * pair EXACTLY once — no dedup stage — via the adjacent-bucket trick:
    * with buckets of size `window`, a pair at rank distance < `window` lies
    * in the same or adjacent buckets, so the left side carries its own
    * bucket and the right side is duplicated into (bucket, bucket-1); the
    * equi-join on bucket then sees each pair exactly once, and the residual
    * `0 < rank_j - rank_i < window` filter closes the window. One extra
    * 2×-duplication shuffle; never an all-pairs product.
    *
    * Output: every column of `df` suffixed `_i` / `_j` plus `rank_dist`.
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      orderCols: Seq[Column],
      window: Int,
      numPartitions: Int = 0): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val ranked = globalRank(df, orderCols, "__graft_rank", numPartitions)
    // `div` (integer division) — Column./ on longs is DOUBLE division.
    val bucket = expr(s"(__graft_rank - 1) div $window")
    val left = ranked.withColumn("__graft_bkt", bucket)
    val right = ranked
      .withColumn("__graft_bkt",
        explode(array(bucket, bucket - 1L)))
    val cols = ArraySeq.unsafeWrapArray(df.columns)
    val li = left.select(
      (cols.map(c => col(c).as(s"${c}_i")) :+
        col("__graft_rank").as("__rank_i") :+ col("__graft_bkt")): _*)
    val rj = right.select(
      (cols.map(c => col(c).as(s"${c}_j")) :+
        col("__graft_rank").as("__rank_j") :+ col("__graft_bkt")): _*)
    li.join(rj, "__graft_bkt")
      .filter(col("__rank_j") > col("__rank_i") &&
        col("__rank_j") - col("__rank_i") < window)
      .withColumn("rank_dist", (col("__rank_j") - col("__rank_i")).cast("int"))
      .drop("__graft_bkt", "__rank_i", "__rank_j")
  }

  /** 2-D skyline (Pareto front), both dimensions MINIMIZED: every row not
    * dominated by another (q dominates p iff q.x ≤ p.x ∧ q.y ≤ p.y with at
    * least one strict). Equal (x, y) duplicates dominate neither and are
    * all kept. Rows with a NULL dimension are excluded.
    *
    * Scale shape — the naive NOT-EXISTS dominance join is O(n²) and plans
    * a nested loop; in 2-D the skyline is instead a PREFIX-MIN sweep:
    * group to per-x minima (one hash aggregate), range-sort the groups by
    * x, then keep a group iff its min-y beats the running min-y of all
    * strictly-smaller x. The prefix min runs distributed the same way
    * [[globalRank]] ranks: per-partition minima from one O(#partitions)
    * job over the range shuffle, prefix-combined on the driver
    * (O(#partitions) values), then a second pass over the SAME shuffle
    * files sweeps each partition with its incoming prefix. Surviving
    * (x, min-y) pairs join back to recover the original rows — that join
    * also drops same-x rows above their group minimum, which are
    * dominated within the group.
    */
  def skyline2dMin(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val g = df
      .filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.cast("double").as("__sx"))
      .agg(min(yCol.cast("double")).as("__sy"))
      .repartitionByRange(n, col("__sx"))
      .sortWithinPartitions(col("__sx"))
    val rdd = g.rdd // one physical RDD: both jobs share the range shuffle
    val partMins = rdd
      .mapPartitionsWithIndex { (i, it) =>
        val m = it.foldLeft(Double.PositiveInfinity)((acc, r) =>
          math.min(acc, r.getDouble(1)))
        Iterator.single(i -> m)
      }
      .collect().toMap // O(#partitions)
    val incoming = (0 until partMins.size).scanLeft(Double.PositiveInfinity) {
      (acc, i) => math.min(acc, partMins(i))
    }
    val sky = rdd.mapPartitionsWithIndex { (i, it) =>
      var running = incoming(i)
      it.flatMap { r =>
        val keep = r.getDouble(1) < running
        running = math.min(running, r.getDouble(1))
        if (keep) Iterator.single(Row(r.getDouble(0), r.getDouble(1)))
        else Iterator.empty
      }
    }
    val skyDf = spark.createDataFrame(sky, StructType(Seq(
      StructField("__sx", org.apache.spark.sql.types.DoubleType, nullable = false),
      StructField("__sy", org.apache.spark.sql.types.DoubleType, nullable = false))))
    df.join(broadcast(skyDf),
        xCol.cast("double") === col("__sx") && yCol.cast("double") === col("__sy"))
      .drop("__sx", "__sy")
  }

  /** Equi-depth (quantile) discretization: bin = ⌊(rank-1)·k / n⌋ over the
    * total order (valueCol, tiebreakCols...) — every bin holds ⌊n/k⌋ or
    * ⌈n/k⌉ rows by construction, ties broken deterministically. Pure
    * integer arithmetic on top of [[globalRank]], so the assignment is
    * engine-independent (no percentile interpolation conventions anywhere).
    * Appends `binCol` (0-based INT).
    */
  def equidepthBins(
      df: DataFrame,
      valueCol: Column,
      tiebreakCols: Seq[Column],
      k: Int,
      binCol: String = "bin",
      numPartitions: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ranked = globalRank(df, valueCol +: tiebreakCols, "__graft_rank", numPartitions)
    val total = ranked.agg(count(lit(1)).as("__graft_n"))
    ranked
      .crossJoin(broadcast(total))
      .withColumn(binCol,
        expr(s"CAST(((__graft_rank - 1) * $k) div __graft_n AS INT)"))
      .drop("__graft_rank", "__graft_n")
  }
}
