package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join strategies for the two big-cluster failure modes Catalyst cannot
  * always fix alone: repeated shuffles of the same fact table (→ bucketing,
  * tables written by [[graft.meta.IndexTables]]) and hot keys that funnel a
  * shuffle into a handful of straggler tasks (→ salting). Both are plain
  * public Spark APIs; what this module adds is the policy and the tests
  * proving the plan shape (no Exchange over a bucketed side; a salted
  * join's results are identical to the plain join).
  */
object ScaleJoins {

  /** Morton (Z-order) value of two non-negative integer columns: bit `b` of
    * `x` lands at z-bit `2b`, bit `b` of `y` at `2b+1`. Rows close in z are
    * close in BOTH dimensions, so a z-sorted layout gives every file/row-
    * group tight min/max footer statistics on BOTH columns at once — the
    * multi-dimensional analog of a sort key, and the standard lakehouse
    * layout for two-predicate scans. Literal shift amounts (bits is a
    * plan-time constant), plain codegen'd arithmetic; values < 2^(2·bits).
    *
    * Inputs must be in `[0, 2^bits)` — [[writeZOrdered]] range-checks; a
    * wider domain needs a coarser quantization first (scale/offset), which
    * is the caller's mapping to keep (pruning only needs monotonicity).
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { b =>
      shiftright(x.cast("long"), b).bitwiseAND(1) * lit(1L << (2 * b)) +
        shiftright(y.cast("long"), b).bitwiseAND(1) * lit(1L << (2 * b + 1))
    }.reduce(_ + _)
  }

  /** Stage `df` at `path` Z-ordered on (`colX`, `colY`): range-partitioned
    * and sorted by [[zValue]], split into ~`rowsPerFile` files so footer
    * min/max statistics are fine-grained. A reader filtering on BOTH
    * columns then skips every file/row-group whose stats-box misses the
    * query box (parquet row-group pruning via the pushed filters) — at
    * 100 TB the difference between "read 0.5% of the table" and "read the
    * x-slice but all of y" that a single-column sort gives. The written
    * `z` column rides along for inspection/gating; the pruning itself only
    * uses the x/y footer stats (proven on real footers in ZOrderSpec).
    */
  def writeZOrdered(df: DataFrame, path: String, colX: String, colY: String,
      bits: Int, rowsPerFile: Long = 5000L): Unit = {
    val bound = 1L << bits
    // The domain guard lives INSIDE the z column (not a droppable side
    // column), so pruning can never optimize the check away: out-of-range
    // input fails the write with a clear message instead of interleaving
    // wrongly forever after.
    val z = when(
      col(colX) >= 0 && col(colX) < bound && col(colY) >= 0 && col(colY) < bound,
      zValue(col(colX), col(colY), bits))
      .otherwise(raise_error(concat(
        lit(s"writeZOrdered: ($colX, $colY) outside [0, 2^$bits): "),
        col(colX).cast("string"), lit(", "), col(colY).cast("string"))).cast("long"))
    df.withColumn("z", z)
      .repartitionByRange(col("z"))
      .sortWithinPartitions("z")
      .write.option("maxRecordsPerFile", rowsPerFile)
      .mode("overwrite").parquet(path)
  }

  /** Salted equi-join for skewed keys. The skewed (large) side gets a
    * deterministic salt from its row content; the small side is replicated
    * `saltBuckets` times so every (key, salt) pair still meets its match —
    * a hot key's rows now spread over `saltBuckets` tasks instead of one.
    * Output equals the plain inner equi-join exactly (verified in spec).
    *
    * Use when AQE's skew-join splitting isn't available (e.g. the join is
    * under an operator AQE won't rewrite) or the skew is known up front.
    * `saltExpr` defaults to a hash of the large side's whole row, which is
    * deterministic for retries within a task attempt's input.
    */
  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      saltBuckets: Int,
      saltExpr: Option[Column] = None): DataFrame = {
    require(saltBuckets > 0)
    val salt = saltExpr.getOrElse(
      pmod(hash(large.columns.map(col).toIndexedSeq: _*), lit(saltBuckets)))
    val saltedLarge = large.withColumn("graft_salt", salt)
    val replicatedSmall = small.withColumn("graft_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedLarge.join(replicatedSmall, keys :+ "graft_salt").drop("graft_salt")
  }

  /** Co-located join of two tables written bucketed with the same bucket
    * spec ([[graft.meta.IndexTables.overwrite]]): reads align
    * bucket-to-bucket, no Exchange.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      keys: Seq[String]): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys)

  /** Persist `df` hive-partitioned by `cols` (one directory level per
    * column). The complementary lever to bucketing
    * ([[graft.meta.IndexTables.overwrite]]): bucketing
    * co-locates high-cardinality JOIN keys; directory partitioning makes
    * low-cardinality FILTER columns (date, source, event type) prunable at
    * planning time — a predicate on `cols` never opens the other
    * directories' files, so "last day of a 3-year event log" reads 0.1% of
    * the bytes instead of scanning 100 TB to discard 99.9%. Keep `cols`
    * low-cardinality: every distinct value is a directory, and millions of
    * tiny files are their own scale failure.
    */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.partitionBy(cols: _*).mode("overwrite").parquet(path)

  /** Read a [[writePartitioned]] layout. Partition columns come back from
    * directory names (typed by partition-column inference); predicates on
    * them become `PartitionFilters` in the scan — plan-shape-guarded in
    * PlanShapeSpec, not taken on faith.
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Small-file COMPACTION — the lake maintenance pass (OPTIMIZE without a
    * table format): streaming sinks and incremental appends accrete
    * thousands of KB-sized parquet files, and at 100 TB the per-file open
    * cost (footer read, object-store request) comes to dominate every
    * scan. Rewrites `srcPath` into `dstPath` as ≈ `ceil(totalBytes /
    * targetFileBytes)` files. Rows are preserved exactly (round-trip
    * identity is the gate); row ORDER is not a parquet dataset property
    * and is not preserved.
    *
    * Scale posture: the target file count comes from the FILE LISTING
    * (driver-side metadata, no data pass). When the target count is below
    * the current partition count the rewrite uses `coalesce` — file merge
    * with NO shuffle (each output task concatenates whole input splits);
    * only a (rare) split UP of too-few-too-big files pays a round-robin
    * repartition. Returns (filesBefore, filesAfter).
    */
  def compactParquet(spark: SparkSession, srcPath: String, dstPath: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = new org.apache.hadoop.fs.Path(srcPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = fs.makeQualified(new org.apache.hadoop.fs.Path(srcPath))
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    // Recursive leaf walk: a LEAF is any directory holding >= 1 data file.
    // A hive-partitioned tree ([[writePartitioned]]) has its data files one
    // directory level per partition column down — the r14 non-recursive
    // listing saw zero top-level files there, sized the job at 0 bytes, and
    // coalesced the whole dataset into ONE file with the partition layout
    // flattened. Compacting per-leaf instead preserves the directory layout
    // exactly (each leaf rewrites to the same relative path under dst), so
    // partition pruning works identically on the compacted copy.
    def walk(p: org.apache.hadoop.fs.Path)
        : Seq[(org.apache.hadoop.fs.Path, Long, Int)] = {
      val entries = fs.listStatus(p).filter(st => visible(st.getPath.getName))
      val files = entries.filter(_.isFile)
      val sub = entries.filter(_.isDirectory).toSeq.flatMap(d => walk(d.getPath))
      if (files.nonEmpty) (p, files.map(_.getLen).sum, files.length) +: sub else sub
    }
    val leaves = walk(src)
    require(leaves.nonEmpty, s"no parquet data files under $srcPath")
    val dst = fs.makeQualified(new org.apache.hadoop.fs.Path(dstPath))
    leaves.foreach { case (leaf, totalBytes, _) =>
      val nOut =
        math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
      val rel = src.toUri.relativize(leaf.toUri).getPath
      val out = if (rel.isEmpty) dst else new org.apache.hadoop.fs.Path(dst, rel)
      // Partition VALUES live in the directory names, not the files, so a
      // per-leaf read/write round-trips each leaf's rows byte-identically.
      val df = spark.read.parquet(leaf.toString)
      val sized =
        if (nOut < df.rdd.getNumPartitions) df.coalesce(nOut)
        else if (nOut == df.rdd.getNumPartitions) df
        else df.repartition(nOut)
      sized.write.mode("overwrite").parquet(out.toString)
    }
    (leaves.map(_._3).sum, walk(dst).map(_._3).sum)
  }

  /** Capped co-occurrence projection: distinct unordered item pairs that
    * share a key — "users who touched the same page", "suppliers shipping
    * the same part" — with each key contributing at most C(maxPerKey, 2)
    * pairs. The UNCAPPED projection is the classic silent scale killer: one
    * hub key with 10⁶ items emits 5·10¹¹ pairs all by itself (and on a
    * uniform fixture the graph quietly converges to a clique — measured:
    * the first q_triangles gate). The cap makes truncation EXPLICIT and
    * deterministic: every key keeps its `maxPerKey` SMALLEST items (a
    * per-key rank, ties impossible after the internal distinct), so two
    * engines — and two runs — truncate identically.
    *
    * Shape: (key, item) distinct → per-key rank window → self-join on the
    * key (both sides one exchange, ReuseExchange). Work is bounded by
    * |keys|·maxPerKey², by construction — the property the 100 TB plan
    * needs and AQE cannot conjure.
    *
    * Output: (item_i < item_j, n_shared_keys) — pair plus the number of
    * capped keys it co-occurs under.
    */
  def cappedCoOccurrence(
      df: DataFrame, keyCol: String, itemCol: String, maxPerKey: Int): DataFrame = {
    require(maxPerKey >= 2, s"need at least 2 items per key to form pairs, got $maxPerKey")
    val ki = df.select(col(keyCol).as("k"), col(itemCol).as("it")).distinct()
    val w = Window.partitionBy(col("k")).orderBy(col("it"))
    val capped = ki.withColumn("graft_rk", row_number().over(w))
      .filter(col("graft_rk") <= maxPerKey)
      .select(col("k"), col("it"))
    capped.toDF("k", "it_i").join(capped.toDF("k", "it_j"), Seq("k"))
      .filter(col("it_i") < col("it_j"))
      .groupBy(col("it_i"), col("it_j"))
      .agg(count(lit(1)).as("n_shared_keys"))
  }
}
