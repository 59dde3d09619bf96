package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, MetadataBuilder}
import graft.sink.PostgresUpsertSink
import scala.collection.immutable.ArraySeq

/** Conform a source DataFrame to an external (Postgres-style) target schema.
  *
  * Reproduces the reference's three-step logical rewrite as a single
  * projection so Catalyst sees one `Project` node:
  *  1. lower-case column names (`/root/reference/get_s3_data_as_df.py:41-43`),
  *  2. intersect with the target table's columns, erroring when empty
  *     (`/root/reference/load_postgres_from_spark_df.py:140-149`),
  *  3. cast each survivor to the Spark type derived from its Postgres type
  *     (`/root/reference/load_postgres_from_spark_df.py:150-163`).
  *
  * Column order follows the *DataFrame's* order (as the reference does — the
  * generated INSERT lists columns from the post-cast DataFrame schema,
  * `/root/reference/psycopg2_database_helper.py:316-319`), so the sink and the
  * conformed frame always agree.
  */
object SchemaConform {

  /** Lower-case every column name (name-based matching is case-insensitive on
    * the Postgres side because the catalog stores lower-cased identifiers).
    */
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(ArraySeq.unsafeWrapArray(df.columns.map(_.toLowerCase)): _*)

  /** Project onto the target's columns and cast. `target` maps lower-case
    * column name → Spark type (derived via [[graft.types.PgTypeMapping]]).
    * `maxChars` maps a column to the most characters its target column
    * holds; the limit rides on the conformed column's metadata under
    * [[graft.sink.PostgresUpsertSink.MaxCharsKey]], where the sink reads it.
    * It changes no value.
    */
  def conform(df: DataFrame, target: Map[String, DataType],
      maxChars: Map[String, Int] = Map.empty): DataFrame = {
    val lowered = lowercaseColumns(df)
    val kept = lowered.columns.filter(target.contains)
    require(
      kept.nonEmpty,
      s"None of the DataFrame columns [${lowered.columns.mkString(", ")}] " +
        s"exist in the target table [${target.keys.mkString(", ")}]"
    )
    lowered.select(kept.map { c =>
      val cast = col(c).cast(target(c))
      maxChars.get(c).fold(cast.alias(c)) { n =>
        cast.as(c, new MetadataBuilder().putLong(PostgresUpsertSink.MaxCharsKey, n).build())
      }
    }.toIndexedSeq: _*)
  }
}
