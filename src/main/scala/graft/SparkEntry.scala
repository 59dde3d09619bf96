package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each domain contributes its query + oracle maps; this object aggregates.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  private def domains: Seq[QueryDomain] = Seq(RelationalQueries, DedupQueries,
    TextAnalysisQueries, EventQueries, VectorQueries, SourceQueries)

  /** One entry per implemented operator from SURVEY.md §2. The guard is
    * loud because `++` silently shadows a gate name that two domains share.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val m = domains.map(_.queries).reduce(_ ++ _)
    require(m.size == domains.map(_.queries.size).sum,
      "duplicate gate name across query domains — Map ++ would shadow one")
    m
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] = {
    val m = domains.map(_.oracleSql).reduce(_ ++ _)
    require(m.size == domains.map(_.oracleSql.size).sum,
      "duplicate oracle name across query domains — Map ++ would shadow one")
    m
  }
}
