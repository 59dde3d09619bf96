package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the test fixtures — produces an sfN directory
  * from an existing one by FK-consistent key-shifted replication, so the
  * 100×-robustness claims can be backed by a MEASURED order of magnitude
  * (r12 VERDICT item 2) instead of plan-shape arguments alone.
  *
  * `factor` copies of every fact/dimension row are laid down with every key
  * column (PK and FK sides alike) shifted by `copy * (domainMax + 1)`, so
  * join fan-outs, key cardinalities, and group sizes scale linearly and
  * referential integrity is preserved. The TPC-H fixed dimensions
  * (region, nation) are copied verbatim, as TPC-H itself scales them.
  *
  * Text and embedding payloads are PERTURBED per copy (tokens suffixed with
  * the copy index; embedding vectors rotated by it): verbatim replication
  * would hand every document 9 identical twins and every near-dup /ANN gate
  * a quadratic clique per original row — a workload shape no natural corpus
  * has. Copy 0 is byte-identical to the source.
  *
  * Usage: `runMain graft.tools.ScaleGen <srcDir> <dstDir> [factor]`
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, "factor must be >= 1")
    // Its own builder, not Harness.session: nanosAsLong would change the
    // `ts` type it writes.
    val cpus = Harness.defaultCores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0)
    // One shift base per key DOMAIN, taken from the key's owning table and
    // used identically on both PK and FK sides.
    val custBase = maxOf(rd("customer"), "c_custkey") + 1
    val suppBase = maxOf(rd("supplier"), "s_suppkey") + 1
    val partBase = maxOf(rd("part"), "p_partkey") + 1
    val orderBase = maxOf(rd("orders"), "o_orderkey") + 1
    val eventBase = maxOf(rd("events"), "event_id") + 1
    val userBase = maxOf(rd("events"), "user_id") + 1
    val docBase = maxOf(rd("documents"), "doc_id") + 1
    val vecBase = maxOf(rd("embeddings"), "vec_id") + 1

    /** `factor` copies with `cp` = copy index riding along. */
    def copies(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(spark.range(factor).toDF("cp")))
    def shifted(c: String, base: Long) = (col(c) + col("cp") * base).as(c)

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.drop("cp").repartition(files)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // Fixed dimensions: verbatim.
    rd("region").write.mode("overwrite").parquet(s"$dst/region.parquet")
    rd("nation").write.mode("overwrite").parquet(s"$dst/nation.parquet")

    write(copies(rd("customer")).withColumn("c_custkey", shifted("c_custkey", custBase)),
      "customer", 4)
    write(copies(rd("supplier")).withColumn("s_suppkey", shifted("s_suppkey", suppBase)),
      "supplier", 2)
    write(copies(rd("part")).withColumn("p_partkey", shifted("p_partkey", partBase)),
      "part", 4)
    write(copies(rd("orders"))
      .withColumn("o_orderkey", shifted("o_orderkey", orderBase))
      .withColumn("o_custkey", shifted("o_custkey", custBase)),
      "orders", 8)
    write(copies(rd("lineitem"))
      .withColumn("l_orderkey", shifted("l_orderkey", orderBase))
      .withColumn("l_partkey", shifted("l_partkey", partBase))
      .withColumn("l_suppkey", shifted("l_suppkey", suppBase)),
      "lineitem", 16)
    write(copies(rd("events"))
      .withColumn("event_id", shifted("event_id", eventBase))
      .withColumn("user_id", shifted("user_id", userBase)),
      "events", 8)
    // Documents: per-copy token suffix decorrelates the signatures (see the
    // scaladoc); n_chars recomputed so the metadata stays consistent.
    write(copies(rd("documents"))
      .withColumn("doc_id", shifted("doc_id", docBase))
      .withColumn("text",
        when(col("cp") === 0 || col("text").isNull, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "), t => concat(t, lit("_"), col("cp"))),
            " ")))
      .withColumn("n_chars",
        when(col("cp") === 0, col("n_chars")) // copy 0 byte-identical to src
          .otherwise(length(col("text")).cast("long"))),
      "documents", 8)
    // Embeddings: rotation by cp preserves the norm but decorrelates the
    // direction, so ANN neighbor structure scales instead of duplicating.
    write(copies(rd("embeddings"))
      .withColumn("vec_id", shifted("vec_id", vecBase))
      .withColumn("embedding",
        when(col("cp") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), (col("cp") + 1).cast("int"),
              (size(col("embedding")) - col("cp")).cast("int")),
            slice(col("embedding"), lit(1), col("cp").cast("int"))))),
      "embeddings", 8)

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => s"$t=${spark.read.parquet(s"$dst/$t.parquet").count()}")
    println(s"[scalegen] wrote $dst factor=$factor ${counts.mkString(" ")}")
    spark.stop()
  }
}
