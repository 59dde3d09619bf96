package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, TimestampNTZType,
  TimestampType}

/** Shared helpers for the query surface: fixture loading plus the
  * determinism conventions that keep Spark results hash-identical to the
  * DuckDB oracle (SURVEY.md §7.5 risk 1).
  */
object Tables {

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The events fixture with `ts` normalized to NANOSECONDS since the epoch
    * as a plain BIGINT, whatever the file's physical type. The fixture has
    * shipped both parquet TIMESTAMP(NANOS) (which reads as a LongType of
    * nanos under `spark.sql.legacy.parquet.nanosAsLong`) and timestamp[us]
    * (which reads as TIMESTAMP_NTZ); round 10 lost every event-time gate to
    * a hardcoded nanos assumption when the physical type flipped. The
    * fixture's physical type is UNTRUSTED input — every event reader goes
    * through this accessor, never through a raw `t(..., "events")` read of
    * `ts`. Timestamp math happens in UTC (all sessions pin
    * `spark.sql.session.timeZone=UTC`), mirroring DuckDB's naive-timestamp
    * `epoch_ns`, so both engines see identical integers.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType => df // already nanos-as-BIGINT
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — " +
          "expected a nanosecond BIGINT or a parquet timestamp")
    }
  }

  /** The documents table, spread across the session's cores. The fixture is
    * one sub-split-size parquet file (single row group), so the scan yields
    * ONE partition and every per-row text expression downstream runs on one
    * core; on a production-scale input the scan's many splits provide this
    * parallelism for free and no such repartition belongs in the operators
    * themselves. The round-robin shuffle of raw text stands in for the
    * splits the fixture lacks.
    *
    * Only for pipelines with HEAVY per-row expressions before their first
    * shuffle (shingling, hashing, tokenization). A query whose first real
    * operation is itself a shuffle on some key (e.g. a window or groupBy)
    * should read via [[t]] — that shuffle already spreads the work, and the
    * round-robin pass would move the full text column a second time for
    * nothing (measured: q_dedup_exact 0.5 s → 1.8 s under docs()).
    */
  def docs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents").repartition(spark.sparkContext.defaultParallelism)

  /** Total order for a SMALL result of an expensive plan. A plain `orderBy`
    * uses RangePartitioning, whose sampling pass re-executes the child plan
    * once just to pick split points — for a similarity join that doubles the
    * whole query. A shuffle to one partition plus an in-partition sort gives
    * the same deterministic total order with one execution; `repartition(1)`
    * is a shuffle BARRIER, so (unlike `coalesce(1)`) upstream stages keep
    * their width. Only for outputs that fit one task comfortably.
    */
  def orderedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Exact-valued sum of a double column: route through a decimal so the
    * result is independent of partitioning/summation order (double addition
    * is not associative; decimal addition is), then cast back to double.
    * Oracle twin: `CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)`.
    */
  def dsum(c: Column, precision: Int = 18, scale: Int = 4): Column =
    sum(c.cast(DecimalType(precision, scale))).cast(DoubleType)

  /** Exact-valued average: decimal-exact sum and count, divided as doubles
    * (IEEE division of identical operands is identical across engines,
    * whereas decimal-division scale rules differ between Spark and DuckDB).
    * Oracle twin:
    * `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(x) AS DOUBLE)`.
    */
  def davg(c: Column, precision: Int = 18, scale: Int = 4): Column =
    sum(c.cast(DecimalType(precision, scale))).cast(DoubleType) /
      count(c).cast(DoubleType)

  /** Decimal cast of a double for exact arithmetic mid-expression. */
  def dec(c: Column, precision: Int = 18, scale: Int = 4): Column =
    c.cast(DecimalType(precision, scale))

  /** A decimal as a double, through its canonical digit string: DuckDB's
    * direct decimal->double on int128-backed values rounds twice (int ->
    * double, then /10^scale) and lands one ulp off Spark's correctly-rounded
    * BigDecimal path. A DECIMAL's digit string is exact (unlike a float's,
    * which is renderer-dependent), and a string parse is correctly rounded
    * in both engines.
    */
  def exactDouble(c: Column): Column = c.cast(StringType).cast(DoubleType)
}
