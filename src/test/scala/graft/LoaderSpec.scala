package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import graft.meta.StaticCatalog

/** End-to-end load path (reference load_postgres_from_spark_df.py:72-105)
  * fully offline: parquet fixture source → static catalog → conform/cast →
  * key discovery → fake sink. The flagship composition the reference exposes
  * as its one job.
  */
class LoaderSpec extends AnyFunSuite with SparkSpec {

  private val nationCatalog = StaticCatalog(
    ListMap("n_nationkey" -> "bigint", "n_name" -> "text"),
    Some(Seq("n_nationkey")))

  private def cfg = Loader.LoadConfig(
    source = "parquet",
    path = s"$sf0001/nation.parquet",
    targetTable = "public.nation")

  test("LoadConfig rejects non-positive batchSize/parallelism at construction") {
    // not deep inside an executor (Iterator.grouped / repartition would
    // throw there with a distributed stack trace)
    assertThrows[IllegalArgumentException](cfg.copy(batchSize = 0))
    assertThrows[IllegalArgumentException](cfg.copy(parallelism = -1))
  }

  test("loadPostgres: source → conform → key → sink, stats summed") {
    val factory = new FakeConnectionFactory("loader_e2e", Set.empty)
    val stats = Loader.loadPostgres(spark, cfg, nationCatalog, factory)
    assert(stats.loaded == 25 && stats.rejected == 0 && stats.errors.isEmpty)
    val landed = FakeSinkState.committed("loader_e2e")
    assert(landed.size == 25)
    // conform pruned to the 2 catalog columns and cast the key to bigint
    assert(landed.forall(_.size == 2))
    assert(landed.map(_.head.asInstanceOf[Long]).sorted == (0L to 24L))
  }

  test("loadPostgres: rejects are isolated and reported, good rows land") {
    val factory = new FakeConnectionFactory("loader_rej", Set(5L, 17L))
    val stats = Loader.loadPostgres(spark, cfg, nationCatalog, factory)
    assert(stats.loaded == 23 && stats.rejected == 2 && stats.errors.size == 2)
    val landed = FakeSinkState.committed("loader_rej").map(_.head.asInstanceOf[Long]).toSet
    assert(landed == (0L to 24L).toSet -- Set(5L, 17L))
  }

  test("conformToTable prunes, casts, and keeps DataFrame column order") {
    val df = Loader.conformToTable(
      spark.read.parquet(s"$sf0001/nation.parquet"), nationCatalog, cfg)
    assert(df.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
    assert(df.schema("n_nationkey").dataType.typeName == "long")
  }

  test("conformToTable: varchar(n)/char(n) limits ride on their columns as metadata; rows unchanged") {
    val limited = StaticCatalog(
      ListMap("n_nationkey" -> "bigint", "n_name" -> "character varying(25)",
        "n_regionkey" -> "character(2)"),
      Some(Seq("n_nationkey")))
    val unlimited = StaticCatalog(
      ListMap("n_nationkey" -> "bigint", "n_name" -> "text", "n_regionkey" -> "text"),
      Some(Seq("n_nationkey")))
    val source = spark.read.parquet(s"$sf0001/nation.parquet")
    val df = Loader.conformToTable(source, limited, cfg)
    val key = graft.sink.PostgresUpsertSink.MaxCharsKey
    val limits = df.schema.fields.collect {
      case f if f.metadata.contains(key) => f.name -> f.metadata.getLong(key)
    }.toMap
    assert(limits == Map("n_name" -> 25L, "n_regionkey" -> 2L))
    val plain = Loader.conformToTable(source, unlimited, cfg)
    assert(plain.schema.fields.forall(!_.metadata.contains(key)))
    assert(df.schema.map(f => f.name -> f.dataType) == plain.schema.map(f => f.name -> f.dataType))
    assert(df.collect().toSeq == plain.collect().toSeq)
  }

  test("insert-only mode when the catalog reports no unique key") {
    val noKey = StaticCatalog(ListMap("n_nationkey" -> "bigint", "n_name" -> "text"), None)
    val factory = new FakeConnectionFactory("loader_nokey", Set.empty)
    val stats = Loader.loadPostgres(spark, cfg, noKey, factory)
    assert(stats.loaded == 25)
  }

  test("LoadConfig splits schema.table; bare table defaults to public") {
    assert(cfg.schema == "public" && cfg.table == "nation")
    val bare = cfg.copy(targetTable = "t")
    assert(bare.schema == "public" && bare.table == "t")
    assertThrows[IllegalArgumentException](cfg.copy(targetTable = "a.b.c").schema)
  }

  test("streamToPostgres: micro-batches conform and land through the sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val catalog = StaticCatalog(ListMap("k" -> "bigint", "v" -> "text"), Some(Seq("k")))
    val factory = new FakeConnectionFactory("loader_stream", Set.empty)
    val input = MemoryStream[(Long, String, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val q = Loader.streamToPostgres(
      input.toDF().toDF("K", "v", "dropped_col"), // uppercase + extra column: conform must fix both
      cfg.copy(targetTable = "public.kv", parallelism = 2),
      catalog, factory, ckpt,
      onBatch = (id, s) => batches.synchronized { batches += id -> s.loaded })
    try {
      input.addData((1L, "a", 9.9), (2L, "b", 9.9))
      q.processAllAvailable()
      input.addData((3L, "c", 9.9))
      q.processAllAvailable()
      val landed = FakeSinkState.committed("loader_stream")
      assert(landed.size == 3 && landed.forall(_.size == 2), s"got $landed")
      assert(landed.map(_.head.asInstanceOf[Long]).sorted == Seq(1L, 2L, 3L))
      assert(batches.map(_._2).sum == 3)
    } finally q.stop()
  }

  test("streamToPostgres: varchar(n) limits reach the sink; text columns have none") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val catalog = StaticCatalog(
      ListMap("k" -> "bigint", "v" -> "character varying(2)", "t" -> "text"), Some(Seq("k")))
    val factory = new FakeConnectionFactory("loader_stream_limits", Set(2L))
    val input = MemoryStream[(Long, String, String)]
    val stats = scala.collection.mutable.ArrayBuffer.empty[graft.sink.LoadStats]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_limits_ckpt").toString
    val q = Loader.streamToPostgres(
      input.toDF().toDF("k", "v", "t"),
      cfg.copy(targetTable = "public.kvt", parallelism = 1),
      catalog, factory, ckpt,
      onBatch = (_, s) => stats.synchronized { stats += s })
    try {
      input.addData((1L, "a", "x" * 50), (2L, "abc", "y"), (3L, "b", "z"))
      q.processAllAvailable()
      val total = stats.reduce(_ + _)
      // Row 2's v is past varchar(2): sent alone and refused; row 1's long
      // text column is not predicted.
      assert(total.sentAlone == 1 && total.rejected == 1 && total.loaded == 2)
      val landed = FakeSinkState.committed("loader_stream_limits")
      assert(landed.map(_.head.asInstanceOf[Long]).sorted == Seq(1L, 3L))
    } finally q.stop()
  }

  test("empty catalog intersection fails loudly") {
    val alien = StaticCatalog(ListMap("zzz" -> "text"), None)
    assertThrows[IllegalArgumentException] {
      Loader.conformToTable(spark.read.parquet(s"$sf0001/nation.parquet"), alien, cfg)
    }
  }
}
