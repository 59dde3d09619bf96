package graft.perfbench

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import scala.collection.mutable
import scala.sys.process._

import graft.meta.{JdbcPgCatalog, PgCatalog}
import graft.sink.{ConnectionFactory, SinkConnection}

/** Where the throwaway server listens (TCP on the loopback interface). */
final case class PgAddress(host: String, port: Int) {
  def args: Seq[String] = Seq("-h", host, "-p", port.toString, "-U", "postgres", "-d", "postgres")

  /** One-shot psql: every `-c` runs in order, output is unaligned tuples. */
  def psql(commands: String*): Seq[String] = {
    val cmd = Seq("psql", "-X", "-A", "-t", "-q", "-v", "ON_ERROR_STOP=1") ++ args ++
      commands.flatMap(c => Seq("-c", c))
    cmd.!!.split("\n").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
  }
}

/** Serializable factory for [[PsqlSinkConnection]]: the executor closure
  * ships only the address.
  */
final case class PsqlConnectionFactory(pg: PgAddress) extends ConnectionFactory {
  def connect(): SinkConnection = new PsqlSinkConnection(pg)
}

/** A long-lived `psql` process as a transactional [[SinkConnection]]. There
  * is no JDBC driver jar on the build path, so rows/s through this pipe are
  * psql-pipe rows/s, not JDBC rows/s. `?` placeholders are rendered to SQL
  * literals. Each call is one query string and one round trip: a batch's
  * statements are joined with psql's `\;`, so the server runs them in one
  * request and stops at the first failing row, as a JDBC batch does. An
  * `\echo` fence follows every call and the ERROR lines before it are the
  * call's failures. ON_ERROR_STOP stays off so an aborted transaction keeps
  * accepting ROLLBACK TO, as a JDBC connection does.
  */
final class PsqlSinkConnection(pg: PgAddress) extends SinkConnection {
  private val proc = {
    val pb = new java.lang.ProcessBuilder(
      (Seq("psql", "-X", "--quiet", "-v", "ON_ERROR_STOP=0") ++ pg.args): _*)
    pb.redirectErrorStream(true)
    pb.start()
  }
  private val in = new BufferedWriter(new OutputStreamWriter(proc.getOutputStream))
  private val out = new BufferedReader(new InputStreamReader(proc.getInputStream))
  private var fence = 0

  /** Send one query string; return the ERROR lines it produced. */
  private def exec(query: String): Seq[String] = {
    fence += 1
    val mark = s"GRAFT_FENCE_$fence"
    in.write(query)
    in.write(s";\n\\echo $mark\n")
    in.flush()
    val errs = mutable.ArrayBuffer.empty[String]
    var line = out.readLine()
    while (line != null && line != mark) {
      if (line.startsWith("ERROR:")) errs += line
      line = out.readLine()
    }
    if (line == null) throw new IllegalStateException("psql died mid-conversation")
    errs.toIndexedSeq
  }

  private def execOrThrow(query: String): Unit = {
    val errs = exec(query)
    if (errs.nonEmpty) throw new PsqlStatementError(errs.head)
  }

  exec("BEGIN")

  private def literal(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case d @ (_: java.sql.Date | _: java.time.LocalDate) => s"'$d'"
    case t @ (_: java.sql.Timestamp | _: java.time.Instant) => s"'$t'"
    case other => throw new IllegalArgumentException(
      s"no SQL literal rendering for ${other.getClass}")
  }

  private def render(sql: String, row: Seq[Any]): String = {
    val parts = sql.split("\\?", -1)
    require(parts.length == row.size + 1,
      s"placeholder arity ${parts.length - 1} != row arity ${row.size}")
    val sb = new StringBuilder(parts(0))
    var i = 0
    while (i < row.size) { sb ++= literal(row(i)); sb ++= parts(i + 1); i += 1 }
    sb.result()
  }

  def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit =
    execOrThrow(batch.iterator.map(r => render(sql, r)).mkString("\\; "))
  def savepoint(name: String): Unit = execOrThrow(s"SAVEPOINT $name")
  def rollbackTo(name: String): Unit = execOrThrow(s"ROLLBACK TO SAVEPOINT $name")
  def release(name: String): Unit = execOrThrow(s"RELEASE SAVEPOINT $name")
  // The next transaction opens in the same round trip.
  def commit(): Unit = execOrThrow("COMMIT\\; BEGIN")
  def close(): Unit = {
    try { in.write("ROLLBACK;\n\\q\n"); in.flush() } catch { case _: Throwable => () }
    if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
    ()
  }
}

/** A statement the server rejected. The message is the whole diagnosis, so
  * no stack trace is filled: the split path raises one per failed batch.
  */
final class PsqlStatementError(message: String)
  extends RuntimeException(message, null, false, false)

/** [[PgCatalog]] over the live server: the three catalog SQL texts of
  * [[JdbcPgCatalog]], issued through one-shot psql calls.
  */
final class PsqlCatalog(pg: PgAddress) extends PgCatalog {
  private val texts = new JdbcPgCatalog(() => sys.error("SQL text access only"))
  private def q(sql: String, schema: String, table: String): Seq[String] =
    pg.psql(sql.replaceFirst("\\?", s"'$schema'").replaceFirst("\\?", s"'$table'"))
  def columnTypes(schema: String, table: String) =
    scala.collection.immutable.ListMap(q(texts.columnSql, schema, table).map { l =>
      val Array(c, t) = l.split("\\|", 2); c -> t
    }: _*)
  def uniqueKey(schema: String, table: String) =
    q(texts.pkSql, schema, table).headOption
      .orElse(q(texts.uniqueIdxSql, schema, table).headOption)
      .map(_.split(',').toIndexedSeq)
}
