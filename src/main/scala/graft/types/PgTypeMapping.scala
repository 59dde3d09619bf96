package graft.types

import org.apache.spark.sql.types._

/** Postgres catalog type name → Spark `DataType`.
  *
  * Re-expresses the reference's config-driven mapping
  * (`/root/reference/config.ini:14-25`) plus its `numeric(p,s)` typmod rule
  * (`/root/reference/load_postgres_from_spark_df.py:155-156`, which
  * string-rewrites `format_type` output) as a real parser. Unknown types fall
  * back to `StringType`, matching the reference's `.get(t, "string")` default
  * (`/root/reference/load_postgres_from_spark_df.py:154`).
  */
object PgTypeMapping {

  private val NumericTypmod = """(?:numeric|decimal)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r
  private val CharTypmod = """(?:character varying|varchar|character|char|bpchar)\s*\(\s*(\d+)\s*\)""".r

  /** Parse one Postgres type name (as produced by `atttypid::regtype` or
    * `format_type(atttypid, atttypmod)`) into a Spark type.
    *
    * `overrides` is a config-file remap (reference `config.ini:14-25`
    * `[pg_to_spark_data_type_mapping]`): lowercase pg type name → Spark DDL
    * type name. A matching override wins over the built-in table; names not
    * overridden (including `numeric(p,s)` typmod forms, which the reference's
    * flat dict could never express) fall through to the built-in rules.
    * Override values must pre-validate via [[parseSparkName]] — a bad value
    * here is a config error the CLI already rejected.
    */
  def toSparkType(pgType: String, overrides: Map[String, String] = Map.empty): DataType = {
    val t = pgType.trim.toLowerCase
    overrides.get(t) match {
      case Some(ddl) => parseSparkName(ddl).fold(err => throw new IllegalArgumentException(err), identity)
      case None      => builtin(t)
    }
  }

  /** The most characters a column of `pgType` holds: `n` for
    * `character varying(n)`, `varchar(n)`, `character(n)`, `char(n)` and
    * `bpchar(n)`; `None` for every other type, bare `varchar` and `text`
    * among them.
    */
  def maxChars(pgType: String): Option[Int] = pgType.trim.toLowerCase match {
    case CharTypmod(n) => Some(n.toInt)
    case _             => None
  }

  /** Spark DDL type name (`int`, `decimal(12,2)`, …) → `DataType`, as a
    * usage-error `Either` so the CLI can reject a bad `--config` mapping at
    * parse time instead of throwing mid-load.
    */
  def parseSparkName(ddl: String): Either[String, DataType] =
    try Right(DataType.fromDDL(ddl))
    catch { case _: Exception => Left(s"'$ddl' is not a Spark type name") }

  private def builtin(pgType: String): DataType = pgType match {
    case NumericTypmod(p, s)                     => DecimalType(p.toInt, Option(s).map(_.toInt).getOrElse(0))
    case "numeric" | "decimal"                   => DecimalType(10, 0)
    case "integer" | "int" | "int4" | "serial"   => IntegerType
    case "smallint" | "int2" | "smallserial"     => ShortType
    case "bigint" | "int8" | "bigserial"         => LongType
    case "date"                                  => DateType
    case t if t.startsWith("timestamp")          => TimestampType
    case "double" | "double precision" | "float8" => DoubleType
    case "float" | "real" | "float4"             => FloatType
    case "boolean" | "bool"                      => BooleanType
    case "bytea"                                 => BinaryType
    case _                                       => StringType
  }
}
