package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.meta.IndexTables
import graft.operators.ScaleJoins

class ScaleJoinsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("bucketed join of co-bucketed tables plans without a shuffle") {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select($"l_orderkey".as("o_orderkey"), $"l_quantity")
    IndexTables.overwrite(orders, "b_orders", Seq("o_orderkey"), 4)
    IndexTables.overwrite(lineitem, "b_lineitem", Seq("o_orderkey"), 4)
    // fixture tables are broadcast-sized, which would bypass the bucketed
    // scan entirely — force the shuffle-join path the technique targets
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = ScaleJoins.bucketedJoin(spark, "b_orders", "b_lineitem", Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      // and it still computes the right thing
      val expected = orders.join(lineitem, "o_orderkey").count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropTables("b_orders", "b_lineitem")
    }
  }

  test("salted join equals the plain join on a skewed key distribution") {
    // 90% of fact rows share one key — the classic straggler shape.
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 42L, s"row$i"))
      .toDF("k", "payload")
    val dim = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"),
      (4L, "e"), (5L, "f"), (6L, "g")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k"))
      .select($"k", $"payload", $"name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val salted = ScaleJoins.saltedJoin(fact, dim, Seq("k"), saltBuckets = 8)
      .select($"k", $"payload", $"name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.size == 2000)
  }

  test("salted join spreads a hot key over multiple salt values") {
    val fact = (1 to 500).map(i => (42L, s"row$i")).toDF("k", "payload")
    val salts = fact
      .withColumn("graft_salt", pmod(hash(fact.columns.map(col).toIndexedSeq: _*), lit(8)))
      .select(countDistinct($"graft_salt")).head().getLong(0)
    assert(salts > 1, "content-hash salt must spread identical keys")
  }

  test("capped co-occurrence: a hub key contributes only its smallest items") {
    // hub key 1 has items 0..9, cap 4 -> pairs only among {0,1,2,3}
    val rows = (0L until 10L).map(i => (1L, i)) ++ Seq((2L, 100L), (2L, 101L))
    val got = ScaleJoins.cappedCoOccurrence(rows.toDF("k", "it"), "k", "it", 4)
      .select($"it_i", $"it_j", $"n_shared_keys")
      .as[(Long, Long, Long)].collect().toSet
    val hubPairs = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j, 1L)
    assert(got === (hubPairs.toSet + ((100L, 101L, 1L))))
  }

  test("capped co-occurrence equals the uncapped projection when nothing truncates") {
    val rows = Seq((1L, 5L), (1L, 7L), (2L, 5L), (2L, 7L), (2L, 9L), (1L, 5L))
    val got = ScaleJoins.cappedCoOccurrence(rows.toDF("k", "it"), "k", "it", 100)
      .as[(Long, Long, Long)].collect().toSet
    // (5,7) shared under keys 1 AND 2; (5,9), (7,9) under key 2 only
    assert(got === Set((5L, 7L, 2L), (5L, 9L, 1L), (7L, 9L, 1L)))
  }

  test("capped co-occurrence is partition-invariant") {
    val ps = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select($"l_partkey", $"l_suppkey")
    def run(df: org.apache.spark.sql.DataFrame) =
      ScaleJoins.cappedCoOccurrence(df, "l_partkey", "l_suppkey", 5)
        .collect().map(_.toSeq).toSet
    assert(run(ps) === run(ps.repartition(13)))
  }

  test("compactParquet: file count drops to the byte-sized target, rows survive exactly") {
    val base = spark.read.parquet(s"$sf0001/part.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    base.repartition(32).write.mode("overwrite").parquet(s"$dir/frag")
    val (before, after) = ScaleJoins.compactParquet(
      spark, s"$dir/frag", s"$dir/packed", targetFileBytes = 1L << 20)
    assert(before === 32)
    // sf0.001 part is well under 1 MB total -> exactly one output file.
    assert(after === 1, s"expected 1 packed file, got $after")
    val back = spark.read.parquet(s"$dir/packed")
    assert(back.count() === base.count())
    assert(back.select("p_partkey").collect().map(_.getLong(0)).sorted.toSeq ===
      base.select("p_partkey").collect().map(_.getLong(0)).sorted.toSeq)
    // The merge path must be shuffle-free: coalesce, not repartition.
    val df = spark.read.parquet(s"$dir/frag")
    assert(df.coalesce(1).queryExecution.executedPlan.toString.contains("Coalesce"))
  }

  test("compactParquet: hive-partitioned layout compacts per leaf, layout preserved") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf0001/orders.parquet")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    // A fragmented writePartitioned tree: 8 files inside every status dir.
    ScaleJoins.writePartitioned(base.repartition(8), s"$dir/frag", Seq("o_orderstatus"))
    val statuses = base.select($"o_orderstatus").distinct()
      .as[String].collect().sorted.toSeq
    val (before, after) = ScaleJoins.compactParquet(
      spark, s"$dir/frag", s"$dir/packed", targetFileBytes = 1L << 20)
    // r14 regression shape: the non-recursive listing saw ZERO top-level
    // files here, sized the job at 0 bytes, and flattened the partition
    // dirs into one file. Now: every leaf was seen and compacted to one.
    assert(before === 8 * statuses.size)
    assert(after === statuses.size, s"expected one file per leaf, got $after")
    // Partition directories survive in place...
    val subdirs = new java.io.File(s"$dir/packed").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(subdirs === statuses.map(s => s"o_orderstatus=$s"))
    // ...and the compacted copy is row-identical, partition column included.
    val back = spark.read.parquet(s"$dir/packed")
    assert(back.count() === base.count())
    assert(back.select($"o_orderkey", $"o_orderstatus").as[(Long, String)]
      .collect().sorted.toSeq ===
      base.select($"o_orderkey", $"o_orderstatus").as[(Long, String)]
        .collect().sorted.toSeq)
    // Partition pruning still works on the compacted tree.
    val pruned = back.filter($"o_orderstatus" === statuses.head)
      .queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters"), pruned)
  }
}
