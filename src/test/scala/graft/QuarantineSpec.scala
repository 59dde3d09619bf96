package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Quarantine

/** [[Quarantine.readJsonLines]]'s dead-letter contract: good rows parse
  * typed, malformed lines land in the DLQ byte-for-byte, a clean feed
  * leaves an empty DLQ.
  */
class QuarantineSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def stage(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_dlq").toString
    Files.write(Paths.get(dir, "in.json"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    dir
  }

  test("good rows parse; broken lines route to the DLQ byte-for-byte") {
    val good1 = """{"id":1,"name":"alpha"}"""
    val bad1 = """{"id":2,"name":"bro"""       // truncated
    val good2 = """{"id":3,"name":"gamma"}"""
    val bad2 = """not json at all"""
    val dir = stage(Seq(good1, bad1, good2, bad2))
    val out = Quarantine.readJsonLines(spark, s"$dir/in.json",
      "id INT, name STRING", s"$dir/dlq")
    assert(out.orderBy($"id").as[(Int, String)].collect().toSeq ==
      Seq((1, "alpha"), (3, "gamma")))
    val dlq = spark.read.text(s"$dir/dlq").as[String].collect().toSet
    assert(dlq == Set(bad1, bad2))
  }

  test("a schema-valid feed leaves an empty DLQ") {
    val dir = stage(Seq("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}"""))
    val out = Quarantine.readJsonLines(spark, s"$dir/in.json",
      "id INT, name STRING", s"$dir/dlq")
    assert(out.count() == 2)
    assert(spark.read.text(s"$dir/dlq").isEmpty)
  }

  test("the contract holds under readStream: foreachBatch routes DLQ per micro-batch") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructType}
    val dir = stage(Seq(
      """{"id":1,"name":"a"}""", """broken-line""", """{"id":2,"name":"b"}"""))
    val schema = StructType.fromDDL("id INT, name STRING")
      .add("_corrupt", StringType)
    val good = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the streaming twin of Quarantine.readJsonLines' split: one
        // cached micro-batch feeds the DLQ side and the good side
        val c = batch.cache()
        bad.synchronized {
          bad ++= c.filter(col("_corrupt").isNotNull)
            .select(col("_corrupt")).collect().map(_.getString(0))
          good ++= c.filter(col("_corrupt").isNull)
            .collect().map(r => (r.getInt(0), r.getString(1)))
        }
        c.unpersist()
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(good.sorted.toSeq == Seq((1, "a"), (2, "b")))
    assert(bad.toSeq == Seq("broken-line"))
  }

  test("type-mismatched fields quarantine the whole line (PERMISSIVE + corrupt col)") {
    val bad = """{"id":"not-a-number","name":"x"}"""
    val dir = stage(Seq("""{"id":7,"name":"ok"}""", bad))
    val out = Quarantine.readJsonLines(spark, s"$dir/in.json",
      "id INT, name STRING", s"$dir/dlq")
    // Spark PERMISSIVE puts unparsable FIELDS as null but keeps the line's
    // raw text in the corrupt column only when the whole record fails;
    // a type mismatch on a field yields a null field + corrupt copy.
    val dlq = spark.read.text(s"$dir/dlq").as[String].collect().toSet
    assert(out.filter($"id" === 7).count() == 1)
    assert(dlq.contains(bad))
  }

  test("with a checkpoint dir configured the good rows checkpoint RELIABLY " +
    "(fault-tolerant blocks); without one they fall back to local") {
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val dir = stage(Seq("""{"id":1,"name":"a"}""", """broken"""))
    val prev = spark.sparkContext.getCheckpointDir
    withCheckpointDir(ckpt) {
      val out = Quarantine.readJsonLines(spark, s"$dir/in.json",
        "id INT, name STRING", s"$dir/dlq")
      assert(out.count() == 1)
      // Dataset.checkpoint wraps the materialized RDD in a fresh LogicalRDD
      // (isCheckpointed is false on the wrapper), so the observable
      // contract is the durable artifact: blocks under the configured dir.
      val wrote = Files.walk(Paths.get(ckpt)).toArray.length > 1
      assert(wrote, "reliable checkpoint must write under the configured dir")
    }
    assert(spark.sparkContext.getCheckpointDir == prev,
      "the checkpoint dir must not outlive the spec")
  }
}
