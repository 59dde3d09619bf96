package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named group of driver-checkable queries (SparkEntry aggregates all
  * domains). `oracleSql` keys must be a subset of `queries` keys; queries
  * without an oracle get the driver's weaker rows-only check.
  *
  * Determinism conventions of the pipeline families ([[DedupQueries]],
  * [[TextAnalysisQueries]], [[EventQueries]], [[VectorQueries]]) on top of
  * [[RelationalQueries]]'s: similarity thresholds are integer
  * cross-multiplications (never float compares); doubles that reach the
  * output are either strict left-folds of exact inputs (identical bit
  * patterns in DuckDB, see [[graft.operators.VectorOps]]) or single
  * arithmetic expressions over exact integer counts; epoch seconds use
  * flooring on both sides (DuckDB `CAST(epoch AS BIGINT)` ROUNDS).
  */
trait QueryDomain {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
