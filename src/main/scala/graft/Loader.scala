package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DataType
import graft.meta.PgCatalog
import graft.schema.SchemaConform
import graft.sink.{ConnectionFactory, LoadStats, PostgresUpsertSink}
import graft.sources.SourceRegistry
import graft.types.PgTypeMapping

/** The reference's flagship end-to-end load path
  * (`/root/reference/load_postgres_from_spark_df.py:72-105`) as one
  * composition: source dispatch → catalog type introspection → schema
  * conform/cast → unique-key discovery → distributed batched upsert.
  *
  * Everything stateful (catalog reads, sink connections) enters through the
  * [[graft.meta.PgCatalog]] and [[graft.sink.ConnectionFactory]] seams, so
  * the whole path runs offline in tests against a static catalog and an
  * in-memory sink — the safety net the reference never had.
  */
object Loader {

  /** One load job. `targetTable` is `schema.table` (reference
    * `--target_pg_table`, `/root/reference/main.py:22-26`); a bare name gets
    * schema `public`. `batchSize` is the maximum number of rows per sink
    * transaction: a partition that has rejected rows commits smaller ones,
    * sized so that about one transaction in four holds a bad row, and a row
    * with text longer than its column's `varchar(n)`/`char(n)` limit goes
    * in a transaction of its own (see [[graft.sink.PostgresUpsertSink]]).
    */
  final case class LoadConfig(
      source: String,
      path: String,
      targetTable: String,
      sourceOptions: Map[String, String] = Map.empty,
      batchSize: Int = 1000,
      parallelism: Int = 1,
      partitionCols: Seq[String] = Nil,
      colsNotForUpdate: Seq[String] = Nil,
      maxRejects: Option[Long] = None,
      // Config-file remap of catalog pg type names → Spark DDL names
      // (reference config.ini [pg_to_spark_data_type_mapping]); values are
      // CLI-validated via PgTypeMapping.parseSparkName before they get here.
      typeOverrides: Map[String, String] = Map.empty) {
    // Fail at construction, not deep inside an executor partition:
    // batchSize <= 0 would die in Iterator.grouped and parallelism <= 0 in
    // repartition, both with unhelpful distributed stack traces.
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(parallelism > 0, s"parallelism must be positive, got $parallelism")
    val (schema: String, table: String) = targetTable.split('.') match {
      case Array(sch, tbl) => (sch, tbl)
      case Array(tbl)      => ("public", tbl)
      case _ => throw new IllegalArgumentException(
        s"targetTable must be 'schema.table' or 'table', got '$targetTable'")
    }
  }

  /** Conform a source frame to the catalog's view of the target table —
    * the metadata + logical-rewrite phases
    * (`/root/reference/load_postgres_from_spark_df.py:84-91,127-163`) without
    * the sink, exposed for callers that want the cast plan only. Each column
    * whose target type limits its length (`varchar(n)`, `char(n)`) carries
    * that limit as metadata, which [[graft.sink.PostgresUpsertSink]] reads.
    */
  def conformToTable(df: DataFrame, catalog: PgCatalog, cfg: LoadConfig): DataFrame =
    conform(df, target(catalog, cfg))

  /** The target table's columns as Spark types, and the character limits of
    * those that have one, from one catalog lookup.
    */
  private final case class Target(types: Map[String, DataType], maxChars: Map[String, Int])

  private def target(catalog: PgCatalog, cfg: LoadConfig): Target = {
    val colTypes = catalog.columnTypes(cfg.schema, cfg.table)
    require(colTypes.nonEmpty,
      s"Target table ${cfg.schema}.${cfg.table} has no columns in the catalog")
    Target(
      colTypes.map { case (n, pg) => n -> PgTypeMapping.toSparkType(pg, cfg.typeOverrides) }.toMap,
      colTypes.flatMap { case (n, pg) => PgTypeMapping.maxChars(pg).map(n -> _) }.toMap)
  }

  /** The conform step of both load paths. DataFrame column order drives the
    * INSERT column list, as in the reference's
    * `psycopg2_database_helper.py:316-319`.
    */
  private def conform(df: DataFrame, t: Target): DataFrame =
    SchemaConform.conform(df, t.types, t.maxChars)

  /** The sink call with `cfg`'s batching, routing and reject settings. */
  private def upsert(df: DataFrame, key: Option[Seq[String]],
      factory: ConnectionFactory, cfg: LoadConfig): LoadStats =
    PostgresUpsertSink.upsert(df, cfg.targetTable, key, factory,
      batchSize = cfg.batchSize,
      parallelism = cfg.parallelism,
      partitionCols = cfg.partitionCols,
      colsNotForUpdate = cfg.colsNotForUpdate,
      maxRejects = cfg.maxRejects)

  /** Streaming variant of the load path: the same catalog-driven
    * conform/cast + upsert sink applied to every micro-batch of an unbounded
    * source through `foreachBatch`. Catalog metadata is resolved ONCE on the
    * driver at start (as the batch path does), not per micro-batch.
    *
    * Exactly-once note: `foreachBatch` gives at-least-once delivery on
    * failure/replay, and the keyed `INSERT … ON CONFLICT DO UPDATE` makes a
    * replayed micro-batch idempotent — the standard upsert-sink contract.
    * Insert-only mode (no unique key) is at-least-once; callers needing
    * dedup there should route a key through the table.
    *
    * @param onBatch per-micro-batch stats callback (default: print report)
    */
  def streamToPostgres(
      stream: DataFrame,
      cfg: LoadConfig,
      catalog: PgCatalog,
      factory: ConnectionFactory,
      checkpointDir: String,
      onBatch: (Long, LoadStats) => Unit = (id, s) => println(s"[graft] batch $id: ${s.report}"))
      : StreamingQuery = {
    val t = target(catalog, cfg)
    val key = catalog.uniqueKey(cfg.schema, cfg.table)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        onBatch(batchId, upsert(conform(batch.toDF(), t), key, factory, cfg))
      }
      .start()
  }

  /** Run the full load; returns summed per-partition stats
    * (`/root/reference/psycopg2_database_helper.py:337-357`).
    */
  def loadPostgres(
      spark: SparkSession,
      cfg: LoadConfig,
      catalog: PgCatalog,
      factory: ConnectionFactory): LoadStats = {
    val source = SourceRegistry(cfg.source).load(spark, cfg.path, cfg.sourceOptions)
    val conformed = conformToTable(source, catalog, cfg)
    upsert(conformed, catalog.uniqueKey(cfg.schema, cfg.table), factory, cfg)
  }
}
