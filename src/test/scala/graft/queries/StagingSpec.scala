package graft.queries

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** [[Staging]] is the one staged-replay protocol: its sentinels share the
  * data file's schema, [[Staging.drain]] leaves no query running and at
  * most one sink per session, and no other query file reads, drains or
  * writes a replay itself.
  */
class StagingSpec extends AnyFunSuite with SparkSpec {

  private def sinkViews(ss: org.apache.spark.sql.SparkSession): Set[String] =
    ss.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_windows_")).toSet

  // (replay dir, data file, sentinel file, sentinel row predicate, set values)
  private def replays = Seq(
    ("events", Staging.streamSessionizeDir(spark, sf0001), "a_events", "b_sentinel",
      col("user_id") === -1L,
      Map("event_id" -> -1L, "user_id" -> -1L, "event_type" -> "sentinel", "value" -> 0.0)),
    ("docs", Staging.streamDocsDir(spark, sf0001), "a_docs", "c_sentinel",
      col("doc_id") === -1L, Map("doc_id" -> -1L)),
    ("docmeta", Staging.streamDocMetaDir(spark, sf0001), "a_docs", "c_sentinel",
      col("doc_id") === -1L,
      Map("doc_id" -> -1L, "source" -> "sentinel", "lang" -> "sentinel")),
    ("cdc", RelationalQueries.streamCdcDir(spark, sf0001), "a_upd", "d_sentinel",
      col("op").isNull, Map.empty[String, Any]))

  test("sentinels: schema equals the data file's; the pinned read returns the set values") {
    for ((kind, staged, data, sentinel, isSentinel, values) <- replays) {
      val dataSchema = spark.read.parquet(s"$staged/$data.parquet").schema
      assert(spark.read.parquet(s"$staged/$sentinel.parquet").schema === dataSchema, kind)
      val pinned = Staging.replay(spark, staged, oneFilePerBatch = false).schema
      assert(pinned === dataSchema, kind)
      val rows = spark.read.schema(pinned).parquet(staged).filter(isSentinel).collect()
      assert(rows.length === 1, kind)
      val row = rows.head
      // The data file's latest event time, from the same pinned read.
      val maxTs = spark.read.schema(pinned).parquet(staged).filter(!isSentinel)
        .agg(max("ts")).head().getLong(0)
      assert(row.getAs[Long]("ts") > maxTs, s"$kind: the sentinel must be far-future")
      for (f <- pinned.fieldNames if f != "ts")
        assert(row.getAs[Any](f) === values.getOrElse(f, null), s"$kind.$f")
    }
  }

  test("drain: returns the frame's rows, stops its query, keeps one sink per session") {
    val ss = Staging.streamSession(spark)
    val staged = Files.createTempDirectory("graft_staging_drain").toString
    import ss.implicits._
    Staging.writeOneParquet(Seq(1L, 2L, 3L).toDF("x"), staged, "a_x.parquet")
    val src = Staging.replay(ss, staged, oneFilePerBatch = true)

    val first = Staging.drain(ss, src.select(($"x" * 10).as("y")))
    assert(first.as[Long].collect().sorted.toSeq === Seq(10L, 20L, 30L))
    assert(ss.streams.active.isEmpty)
    val firstSink = sinkViews(ss)
    assert(firstSink.size === 1)

    val boom = src.select(when($"x" === 2L, raise_error(lit("boom"))).otherwise($"x").as("x"))
    intercept[StreamingQueryException](Staging.drain(ss, boom))
    assert(ss.streams.active.isEmpty, "a failed query must be stopped too")
    val second = sinkViews(ss)
    assert(second.size === 1)
    assert((second & firstSink).isEmpty, "the previous sink's view must be dropped")
    Staging.rmTree(new java.io.File(staged))
  }

  test("streamSession: one memoized clone per (session, partitions)") {
    val state = Staging.streamSession(spark)
    val fold = Staging.streamSession(spark, Staging.FoldParts)
    assert(state eq Staging.streamSession(spark, Staging.StateParts))
    assert(fold eq Staging.streamSession(spark, Staging.FoldParts))
    assert(state ne fold)
    assert(state.conf.get("spark.sql.shuffle.partitions") === Staging.StateParts.toString)
    assert(fold.conf.get("spark.sql.shuffle.partitions") === Staging.FoldParts.toString)
    for (s <- Seq(state, fold))
      assert(s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") === "true")
  }

  test("convention guard: only Staging.scala reads, drains or writes a replay in graft.queries") {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val call = """readStream|format\("memory"\)|nextStreamSink\(|ExampleParquetWriter""".r
    val s = Files.list(root)
    val files: Seq[Path] = try s.iterator.asScala.toList finally s.close()
    val offenders = for {
      f <- files if f.toString.endsWith(".scala")
      if f != root.resolve("Staging.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
