package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one driver session and the one contention sentinel. Bench, Verify,
  * TimeQueries, ExplainPlan and the specs all run under [[session]], so a
  * plan dumped or timed by a dev tool is the plan the bench executes.
  */
object Harness {

  /** `local[cores]` with `cores` shuffle partitions, UTC session time, parquet
    * TIMESTAMP(NANOS) read as a nanosecond BIGINT (`Tables.events` adapts to
    * either physical type), no UI, ERROR logging (the bench's metric line must
    * be the last stdout content). `cores` is `SPARK_GRAFT_CPUS`, else the
    * machine's core count.
    */
  def session(cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The sentinel's plan: one exchange, no table input, and a fixed 32 range
    * partitions whatever the core count, so its time measures the box, not
    * the code, and stays comparable across rounds.
    */
  private[graft] def sentinelPlan(spark: SparkSession): DataFrame =
    spark.range(0, 10000000L, 1, 32)
      .selectExpr("id % 97 AS k", "id")
      .groupBy("k").sum("id")

  /** Seconds to run [[sentinelPlan]] through the noop sink. */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    sentinelPlan(spark).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
