package graft.cli

import org.apache.spark.sql.SparkSession
import graft.Loader
import graft.meta.JdbcPgCatalog
import graft.sink.JdbcConnectionFactory

/** CLI entry point — the reference's `main.py:6-73` re-expressed, fixing its
  * catalogued defects: `--partition_cols` is a real column list (the
  * reference declares it `type=int`, `/root/reference/main.py:38-42`), and
  * repeated `--source_opt k=v` flags actually reach the source (the
  * reference's `--source_arg` append-list splat only works empty,
  * `/root/reference/main.py:47-53,66`).
  *
  * Credentials: `--pg_url` is a JDBC URL; user/password come from
  * `--pg_user`/`--pg_password` or the PGUSER/PGPASSWORD environment (never
  * required on the command line, where they'd leak into process listings).
  */
object Main {

  final case class CliArgs(
      load: Loader.LoadConfig,
      pgUrl: String,
      pgUser: String,
      pgPassword: String)

  private val usage =
    """usage: graft.cli.Main --source <csv|parquet|json|jdbc> --path <path>
      |         --target_pg_table <schema.table> --pg_url <jdbc:postgresql://...>
      |         [--pg_user u] [--pg_password p]        (or PGUSER/PGPASSWORD env)
      |         [--batch_size 1000] [--parallelism 1]
      |         [--partition_cols c1,c2] [--cols_not_for_update c1,c2]
      |         [--max_rejects n] [--source_opt k=v]... [--config file.ini]
      |
      |A value may be attached with '=' (--pg_password=<value>); that form is
      |the escape hatch for values that themselves start with '--', which the
      |space-separated form rejects to catch `--pg_user --pg_password`-style
      |dropped values.
      |
      |--config reads a reference-style config.ini: [my_database_credentials]
      |supplies pg_url/pg_user/pg_password defaults (explicit flags win, env
      |vars are the last resort) and [pg_to_spark_data_type_mapping] remaps
      |catalog types. See README 'Migrating a reference config.ini'.
      |
      |--batch_size is the maximum number of rows per transaction; a
      |partition that has rejected rows commits smaller transactions.""".stripMargin

  /** Pure argument parser, exposed for tests. */
  def parse(args: Seq[String], env: Map[String, String] = sys.env): Either[String, CliArgs] = {
    val flags = scala.collection.mutable.Map.empty[String, String]
    val sourceOpts = scala.collection.mutable.Map.empty[String, String]
    def addSourceOpt(kv: String): Either[String, Unit] =
      kv.split("=", 2) match {
        case Array(k, v) => sourceOpts += k -> v; Right(())
        case _           => Left(s"--source_opt expects k=v, got '$kv'\n$usage")
      }
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      // --flag=value: the attached form. Split at the FIRST '=' only, so
      // --source_opt=k=v and --pg_password=a=b keep their value intact.
      // This is the documented escape hatch for values starting with '--'.
      case flagEq :: tail if flagEq.startsWith("--") && flagEq.contains('=') =>
        val Array(flag, value) = flagEq.split("=", 2)
        if (flag == "--source_opt") addSourceOpt(value) match {
          case Left(err) => return Left(err)
          case Right(()) => ()
        } else flags += flag.drop(2) -> value
        rest = tail
      case "--source_opt" :: kv :: tail =>
        addSourceOpt(kv) match {
          case Left(err) => return Left(err)
          case Right(()) => ()
        }
        rest = tail
      // A following `--flag` is NOT a value: `--pg_user --pg_password` would
      // silently set user to the literal '--pg_password' and then source the
      // password from env — a misconfiguration that must be a usage error.
      case flag :: value :: tail if flag.startsWith("--") && !value.startsWith("--") =>
        flags += flag.drop(2) -> value
        rest = tail
      case flag :: _ if flag.startsWith("--") =>
        return Left(s"$flag expects a value\n$usage")
      case bad :: _ => return Left(s"unexpected argument '$bad'\n$usage")
      case Nil      => ()
    }
    def required(k: String): Either[String, String] =
      flags.get(k).toRight(s"missing required --$k\n$usage")
    // Malformed numbers are usage errors like every other bad argument —
    // never an escaping NumberFormatException.
    def numeric[A](k: String, default: A)(parse: String => A): Either[String, A] =
      flags.get(k) match {
        case None => Right(default)
        case Some(v) =>
          try Right(parse(v))
          catch { case _: NumberFormatException =>
            Left(s"--$k expects a number, got '$v'\n$usage")
          }
      }
    // Optional reference-style config.ini (`/root/reference/config.ini`).
    // Precedence for credentials: explicit flag > config file > environment —
    // the file is what the reference used, so it outranks ambient env vars,
    // but never an argument the operator typed.
    val ini: Either[String, Option[IniConfig.Ini]] = flags.get("config") match {
      case None => Right(None)
      case Some(p) =>
        (try Right(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8))
         catch { case e: java.io.IOException => Left(e.toString) })
          .flatMap(IniConfig.parse)
          .map(Some(_))
          .left.map(err => s"--config $p: $err\n$usage")
    }
    for {
      cfg <- ini
      source <- required("source")
      path <- required("path")
      table <- required("target_pg_table")
      url <- flags.get("pg_url").orElse(cfg.flatMap(_.pgUrl()))
        .toRight(s"missing --pg_url (or a --config credentials section)\n$usage")
      user <- flags.get("pg_user").orElse(cfg.flatMap(_.pgUser())).orElse(env.get("PGUSER"))
        .toRight(s"missing --pg_user (or --config / PGUSER env)\n$usage")
      password <- flags.get("pg_password").orElse(cfg.flatMap(_.pgPassword())).orElse(env.get("PGPASSWORD"))
        .toRight(s"missing --pg_password (or --config / PGPASSWORD env)\n$usage")
      typeOverrides = cfg.map(_.section(IniConfig.TypeMappingSection)).getOrElse(Map.empty)
      // Reject a bad mapping value here, as a usage error, not as an
      // IllegalArgumentException thrown mid-load from the conform phase.
      _ <- typeOverrides.toSeq.sortBy(_._1).collectFirst {
        case (k, v) if graft.types.PgTypeMapping.parseSparkName(v).isLeft =>
          s"--config [${IniConfig.TypeMappingSection}]: '$k = $v': " +
            graft.types.PgTypeMapping.parseSparkName(v).swap.getOrElse("") + s"\n$usage"
      }.toLeft(())
      batchSize <- numeric("batch_size", 1000)(_.toInt)
      parallelism <- numeric("parallelism", 1)(_.toInt)
      maxRejects <- numeric[Option[Long]]("max_rejects", None)(v => Some(v.toLong))
    } yield CliArgs(
      Loader.LoadConfig(
        source = source,
        path = path,
        targetTable = table,
        sourceOptions = sourceOpts.toMap,
        batchSize = batchSize,
        parallelism = parallelism,
        partitionCols = flags.get("partition_cols").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
        colsNotForUpdate = flags.get("cols_not_for_update").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
        maxRejects = maxRejects,
        typeOverrides = typeOverrides),
      url, user, password)
  }

  def main(args: Array[String]): Unit = parse(args.toIndexedSeq) match {
    case Left(err) =>
      System.err.println(err)
      sys.exit(2)
    case Right(cli) =>
      val spark = SparkSession.builder()
        .appName("Postgres Loader") // reference main.py:13-14
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val factory = JdbcConnectionFactory(cli.pgUrl, cli.pgUser, cli.pgPassword)
        val catalog = new JdbcPgCatalog(() => factory.rawConnection())
        val stats = Loader.loadPostgres(spark, cli.load, catalog, factory)
        println(stats.report)
        if (stats.rejected > 0) sys.exit(1)
      } finally spark.stop()
  }
}
