package graft.sink

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.util.control.NonFatal

/** Write statistics of one Spark partition, or of a whole load as the `+`
  * of its partitions' (reference O14, `psycopg2_database_helper.py:337-357`).
  * `transactions` counts commits, `statements` `executeBatch` calls and
  * `rollbacks` savepoint rollbacks, all over committed transactions: a
  * transaction re-run after a reconnect counts once.
  */
final case class LoadStats(
    loaded: Long,
    rejected: Long,
    errors: Seq[String],
    transactions: Long,
    statements: Long,
    rollbacks: Long) {
  def +(o: LoadStats): LoadStats =
    LoadStats(loaded + o.loaded, rejected + o.rejected, errors ++ o.errors,
      transactions + o.transactions, statements + o.statements, rollbacks + o.rollbacks)

  def report: String =
    s"Total rows loaded: $loaded\nTotal rows rejected: $rejected" +
      s"\nTransactions: $transactions, statements: $statements, rollbacks: $rollbacks" +
      (if (errors.isEmpty) "" else errors.mkString("\n", "\n", ""))
}

/** Distributed, fault-tolerant batched upsert sink — the reference's flagship
  * operator (O10–O14) re-expressed on `Dataset.mapPartitions`:
  *
  *  - partitioning policy: `partitionCols` set → hash-`repartition` so rows
  *    sharing an upsert key land on one connection (avoids cross-connection
  *    conflict/deadlock on the same key); otherwise a round-robin
  *    `repartition(parallelism)`. Either is a shuffle barrier, so capping
  *    connections does not narrow the upstream scan/conform stage.
  *  - one lazily-opened connection per partition
  *    (`/root/reference/psycopg2_database_helper.py:152-154`).
  *  - rows grouped into transactions of at most `batchSize` rows, each
  *    committed on its own so an executor failure loses at most one
  *    uncommitted transaction
  *    (`/root/reference/psycopg2_database_helper.py:156-169`).
  *  - transaction size follows the partition's reject rate: while the
  *    partition has rejected nothing a transaction holds `batchSize` rows;
  *    after its first reject each transaction holds
  *    `min(batchSize, 2^⌊log₂(good/rejected)⌋)` rows, from the partition's
  *    running counts of rows adjudicated so far. This is the first-group size
  *    of Hwang's generalized binary splitting (F. K. Hwang, J. Amer. Statist.
  *    Assoc. 67, 1972): a transaction that small holds about one bad row, so
  *    the split below re-sends about one transaction's worth of rows instead
  *    of `batchSize` per bad row.
  *  - each transaction runs under a savepoint; on failure it is rolled back
  *    and recursively halved so bad rows are isolated in O(log n) extra
  *    round trips while good rows still land
  *    (reference `psycopg2_database_helper.py:11-39,70-120`). A new
  *    savepoint is opened only after a statement succeeds: after a rollback
  *    the same savepoint still marks the transaction's state. No savepoint
  *    is ever released; COMMIT ends them all.
  *  - poison-partition circuit breaker: once `batchSize` consecutive rows
  *    reject, counted across back-to-back fully rejected transactions, the
  *    partition aborts instead of grinding through a doomed feed
  *    (reference `psycopg2_database_helper.py:168-169`); it also trips
  *    when the partition's rejects cross the configurable `maxRejects`.
  *
  * Scale posture: the driver only ever sees O(#partitions) stats rows — no
  * data is collected. At 1000 executors the binding constraint is the Postgres
  * side (connections = `parallelism`), which is exactly the knob the reference
  * exposes.
  */
object PostgresUpsertSink {

  def upsert(
      df: DataFrame,
      tableName: String,
      uniqueKey: Option[Seq[String]],
      factory: ConnectionFactory,
      batchSize: Int = 1000,
      parallelism: Int = 1,
      partitionCols: Seq[String] = Nil,
      colsNotForUpdate: Seq[String] = Nil,
      maxRejects: Option[Long] = None): LoadStats = {

    val sql = UpsertSqlGen.build(
      df.schema.fieldNames.toIndexedSeq, tableName,
      uniqueKey.getOrElse(Nil), colsNotForUpdate)

    val routed =
      if (partitionCols.nonEmpty) df.repartition(parallelism, partitionCols.map(col): _*)
      else df.repartition(parallelism)

    routed
      .mapPartitions { rows: Iterator[Row] =>
        Iterator.single(writePartition(rows, sql, factory, batchSize, maxRejects))
      }(Encoders.product[LoadStats])
      .collect()
      .foldLeft(LoadStats(0L, 0L, Vector.empty, 0L, 0L, 0L))(_ + _)
  }

  /** Reconnect-and-resume recoveries per partition. */
  private val ReconnectAttempts = 1

  /** Error messages kept per partition. */
  private val MaxErrors = 100

  /** Body of one executor task. Package-private for direct unit testing.
    *
    * Transient-fault posture: a [[SinkConnectionLostException]] (network
    * drop, server restart) between/within batches triggers up to
    * `ReconnectAttempts` reconnect-and-resume recoveries per partition —
    * committed batches are durable by design, and the in-flight batch is
    * re-run in full on the fresh connection. If the loss struck during
    * `commit()` the transaction's fate is in doubt; re-running is still
    * correct because the statement is a keyed upsert (idempotent) or an
    * insert whose duplicate would surface as a constraint reject, never as
    * silent data loss. Statement-level failures are NOT retried here — they
    * flow to [[executeIsolated]]'s binary split as before.
    */
  private[graft] def writePartition(
      rows: Iterator[Row],
      sql: String,
      factory: ConnectionFactory,
      batchSize: Int,
      maxRejects: Option[Long]): LoadStats = {
    require(batchSize > 0, "batchSize must be positive")
    var conn: SinkConnection = null
    var seen = 0L
    var rejected = 0L
    var transactions, statements, rollbacks = 0L
    var reconnectsLeft = ReconnectAttempts
    // Error MESSAGES are capped per partition (`rejected` still counts every
    // bad row): uncapped, a systematically bad feed at 10⁵ partitions would
    // ship an unbounded string list through the stats collect to the driver
    // — the one place this sink could re-grow a driver-side data path. The
    // reference caps nothing (psycopg2_database_helper.py:337-357).
    var suppressed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def recordErrors(errs: Seq[String]): Unit = {
      val room = MaxErrors - errors.size
      errors ++= errs.take(room)
      suppressed += math.max(0, errs.size - room)
    }
    val batch = mutable.ArrayBuffer.empty[Seq[Any]]
    var size = batchSize
    var rejectRun = 0L // rows of back-to-back fully rejected transactions
    var poisoned = false

    def flush(): Unit = if (batch.nonEmpty) {
      val inFlight = batch.toIndexedSeq
      def attempt(): Adjudication = {
        val res = executeIsolated(conn, sql, inFlight)
        conn.commit()
        res
      }
      // First-attempt reject counts are discarded on retry — the re-run
      // re-adjudicates the whole batch, so nothing double-counts.
      val res =
        try attempt()
        catch {
          case e: SinkConnectionLostException if reconnectsLeft > 0 =>
            reconnectsLeft -= 1
            try conn.close() catch { case NonFatal(_) => () }
            conn = factory.connect()
            attempt()
        }
      rejected += res.rejected
      transactions += 1
      statements += res.statements
      rollbacks += res.rollbacks
      recordErrors(res.errors)
      rejectRun = if (res.rejected == inFlight.size) rejectRun + res.rejected else 0L
      // Circuit breaker: a run of `batchSize` rejected rows (or crossing the
      // caller's reject budget) means the feed is systematically bad for
      // this partition — stop consuming instead of paying the split cost
      // forever.
      if (rejectRun >= batchSize || maxRejects.exists(rejected > _)) poisoned = true
      size = transactionSize(seen - rejected, rejected, batchSize)
      batch.clear()
    }

    try {
      while (rows.hasNext && !poisoned) {
        val row = rows.next()
        if (conn == null) conn = factory.connect() // lazy: empty partitions never connect
        batch += row.toSeq
        seen += 1
        if (batch.size >= size) flush()
      }
      if (!poisoned) flush()
      if (suppressed > 0)
        errors += s"($suppressed further error messages suppressed by maxErrors=$MaxErrors)"
      LoadStats(seen - rejected, rejected, errors.toIndexedSeq,
        transactions, statements, rollbacks)
    } finally if (conn != null) conn.close()
  }

  /** Rows in the next transaction of a partition that has adjudicated `good`
    * and `rejected` rows: `batchSize` until the first reject, then
    * `min(batchSize, 2^⌊log₂(good/rejected)⌋)`, at least 1.
    */
  private[graft] def transactionSize(good: Long, rejected: Long, batchSize: Int): Int =
    if (rejected == 0L) batchSize
    else math.min(batchSize.toLong,
      math.max(1L, java.lang.Long.highestOneBit(good / rejected))).toInt

  /** Outcome of one transaction's isolation: rows rejected with their error
    * messages, `executeBatch` calls made and savepoint rollbacks sent.
    */
  private[graft] final case class Adjudication(
      rejected: Long, errors: Seq[String], statements: Long, rollbacks: Long)

  /** Savepoint-scoped execution with recursive binary-split isolation: a
    * failing batch of n > 1 rows is rolled back to its savepoint, split in
    * half, and both halves re-queued (LIFO, so isolation stays depth-first
    * and memory stays O(batch)); a failing singleton is counted as one reject
    * with its error message. Good rows always land; each bad row costs at
    * most O(log₂ n) extra round trips.
    *
    * A savepoint is opened only when none marks the transaction's current
    * state: before the first statement and after each statement that
    * succeeded. After a rollback the savepoint rolled back to still marks
    * the state, so the next half reuses it, and every rollback targets the
    * latest savepoint. Savepoints are never released; the caller's COMMIT
    * ends them.
    */
  private[graft] def executeIsolated(
      conn: SinkConnection,
      sql: String,
      batch: Seq[Seq[Any]]): Adjudication = {
    var rejected, statements, rollbacks = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    var stack = List(batch)
    var opened = 0
    var mark: String = null // the savepoint marking the current state, if any
    while (stack.nonEmpty) {
      val b = stack.head
      stack = stack.tail
      if (mark == null) {
        opened += 1
        mark = s"graft_sp_$opened"
        conn.savepoint(mark)
      }
      statements += 1
      try {
        conn.executeBatch(sql, b)
        mark = null
      } catch {
        // A dead connection is not a bad row: no rollback attempt (the
        // transaction died with the socket), no split — the partition-level
        // reconnect in writePartition re-runs the whole in-flight batch.
        case e: SinkConnectionLostException => throw e
        case NonFatal(e) =>
          conn.rollbackTo(mark)
          rollbacks += 1
          if (b.size == 1) {
            rejected += 1
            errors += String.valueOf(e.getMessage)
          } else {
            val half = b.size / 2
            stack = b.take(half) :: b.drop(half) :: stack
          }
      }
    }
    Adjudication(rejected, errors.toIndexedSeq, statements, rollbacks)
  }
}
