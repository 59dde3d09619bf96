package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SetSimJoin

/** Proves the skew posture of [[SetSimJoin.jaccardJoin]]'s df join-back on
  * a deliberately hot-token corpus — with MAP STATISTICS, not plan strings.
  * The corpus packs, so each run forces the join-back through
  * `jaccardJoinWith` with a packed cap of one entry.
  *
  * Background (measured while building this spec): AQE's
  * `OptimizeSkewedJoin` can NOT rescue this operator's df join. The rule
  * only matches a join whose both children are a bare sort over an
  * ENSURE_REQUIREMENTS shuffle stage; the df aggregate's final merge sits
  * between its shuffle and the join, so the rule never pattern-matches —
  * it logged `skewed partitions: left 0, right 0` while the index-side map
  * stats showed a 4.7× hot partition. Hence the operator splits hot keys
  * itself (broadcast branch for keys with df ≥ hotDf); this spec pins both
  * halves of that claim:
  *   - split at 1000 → every shuffle stage balanced, hot branch is a
  *     broadcast join, output identical to the packed path;
  *   - threshold past every df (`hotDf = Long.MaxValue`) → the hot token's
  *     partition measurably dominates its shuffle stage again.
  */
class SkewJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // One stop token in ALL docs (its index rows hash to one shuffle
  // partition) plus a two-token tail shared by each even/odd doc pair —
  // nDocs/2 duplicate pairs out (Jaccard 1 ≥ 1/2), and the hot token's df
  // is maximal so the prefix rank drops it before candidate generation:
  // the only skew is the df join's.
  private val nDocs = 60000L
  private def skewedDocs = {
    val base = $"id" - ($"id" % 2)
    spark.range(nDocs).select(
      $"id".as("doc_id"),
      array(lit(0L), base + 10, base + 11).as("toks"))
  }

  private def run(out: DataFrame): (Array[(Long, Long, Long, Long)], SparkPlan) = {
    // The ds we collect is the ds whose plan we inspect: a derived Dataset
    // has its OWN QueryExecution, and the parent's would stay un-executed
    // (isFinalPlan=false, no query stages, no map stats).
    val ds = out.select($"doc_i", $"doc_j", $"n_common", $"n_union")
      .as[(Long, Long, Long, Long)]
    val rows = ds.collect().sortBy(r => (r._1, r._2))
    (rows, ds.queryExecution.executedPlan)
  }

  private def joinBack(hotDf: Long) =
    run(SetSimJoin.jaccardJoinWith(skewedDocs, "doc_id", "toks", Nil, 1, 2,
      maxDf = None, maxCandidates = SetSimJoin.DefaultMaxCandidates,
      maxPackedDfEntries = 1, hotDfThreshold = hotDf))

  /** Per-stage reduce-partition byte sizes from the executed adaptive plan
    * (query stages are leaves — a plain collect() stops at them).
    */
  private def stageSizes(p: SparkPlan): Seq[Array[Long]] = p match {
    case a: AdaptiveSparkPlanExec => stageSizes(a.executedPlan)
    case s: ShuffleQueryStageExec =>
      s.mapStats.map(_.bytesByPartitionId).toSeq ++ stageSizes(s.plan)
    case q: QueryStageExec => stageSizes(q.plan)
    case other => other.children.flatMap(stageSizes)
  }

  private def maxOverMedian(sizes: Array[Long]): Double = {
    val sorted = sizes.sorted
    val med = sorted(sorted.length / 2).max(1L)
    sorted.last.toDouble / med
  }

  private def withSkewConfs[A](body: => A): A = {
    // -1 keeps the cold join shuffled (the broadcast in the plan is then
    // provably the operator's own hot branch); 16 reducers spread the tail
    // tokens while the hot token stays whole, so the skew-off contrast is
    // measurable above shuffle-compression noise (at the suite's 4
    // reducers the hot partition compresses down to ~2× the median).
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.shuffle.partitions")
    val prev = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set(keys(0), "-1")
    spark.conf.set(keys(1), "16")
    try body
    finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("hot-key split on: balanced shuffles, broadcast hot branch, packed-identical output") {
    withSkewConfs {
      val (expected, _) = run(SetSimJoin.jaccardJoin(skewedDocs, "doc_id", "toks",
        blockCols = Nil, threshNum = 1, threshDen = 2))
      assert(expected.length === nDocs / 2, "one pair per even/odd twin")

      val (rows, plan) = joinBack(hotDf = 1000L)
      assert(rows.toSeq === expected.toSeq, "split path must not change results")
      // The hot slice rides an explicit broadcast() — present even with the
      // auto threshold disabled.
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"hot df branch should be a broadcast join:\n$plan")
      // The claim itself: no shuffle stage is dominated by the hot token.
      val ratios = stageSizes(plan).filter(_.nonEmpty).map(maxOverMedian)
      assert(ratios.nonEmpty && ratios.forall(_ < 3.0),
        s"a shuffle stage is still skewed (max/median ratios: ${ratios.mkString(", ")})")
    }
  }

  test("hot-key split off (hotDfThreshold = MaxValue): the hot partition dominates again") {
    withSkewConfs {
      val (rows, plan) = joinBack(hotDf = Long.MaxValue)
      assert(rows.length === nDocs / 2)
      val ratios = stageSizes(plan).filter(_.nonEmpty).map(maxOverMedian)
      // The index-side exchange of the df join carries every hot row in one
      // partition: measured 4.7× at 16 reducers on this corpus. The loose
      // 3× bound keeps the assertion meaningful without tracking codec
      // drift.
      assert(ratios.exists(_ > 3.0),
        s"expected a dominated partition with the split disabled " +
          s"(max/median ratios: ${ratios.mkString(", ")})")
    }
  }
}
