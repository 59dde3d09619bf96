package graft.sources

import graft.meta.Ckpt.Syntax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

/** Dead-letter routing for malformed source lines — the quarantine stage
  * every production ingest runs in front of the conform/cast path: a feed
  * with a few thousand broken lines must load its billions of good rows
  * AND preserve the broken ones byte-for-byte for replay/forensics, not
  * fail the job (FAILFAST) or silently drop them (DROPMALFORMED).
  *
  * Built on Spark's PERMISSIVE parse: the raw line of every row that
  * fails the schema lands in the corrupt-record column; good rows carry
  * NULL there. One cached scan feeds both sides — Spark refuses to filter
  * a lazily-derived corrupt column precisely because the optimizer could
  * prune the parse that populates it, so the materialization is part of
  * the contract, not a workaround.
  *
  * Scale posture: the parse is per-row (splittable text scan), the DLQ
  * write is one extra pass over the cached rows, and the returned frame
  * is an eager checkpoint of the good rows. The parse cache itself is
  * unpersisted before returning, so a long-running session ingesting many
  * feeds does not accumulate a pinned cached copy of every input. Whether
  * that checkpoint is reliable or local, and what it retains on disk,
  * follows the session's checkpoint dir: see [[graft.meta.Ckpt]].
  */
object Quarantine {

  /** Read JSON-lines at `path` against the DDL schema; malformed lines go
    * to `dlqPath` (overwritten per run — the DLQ of THIS load), good rows
    * come back parsed with the corrupt column dropped.
    */
  def readJsonLines(spark: SparkSession, path: String, ddl: String,
      dlqPath: String): DataFrame = {
    val schema = StructType.fromDDL(ddl).add("_corrupt", StringType)
    val raw = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .cache()
    raw.filter(col("_corrupt").isNotNull).select(col("_corrupt"))
      .write.mode("overwrite").text(dlqPath)
    // Eager checkpoint: materializes the good rows (their lineage no
    // longer filters the corrupt column, so the cache is no longer load-
    // bearing), then release the parse cache immediately.
    val good = raw.filter(col("_corrupt").isNull).drop("_corrupt").ckptEager
    raw.unpersist()
    good
  }
}
