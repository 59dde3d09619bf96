package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sink.PostgresUpsertSink

class PostgresUpsertSinkSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def run(
      id: String,
      rows: Seq[(Long, String)],
      badKeys: Set[Long],
      batchSize: Int = 10,
      parallelism: Int = 2) = {
    val factory = new FakeConnectionFactory(id, badKeys)
    val df = rows.toDF("k", "v")
    PostgresUpsertSink.upsert(
      df, "t", Some(Seq("k")), factory, batchSize = batchSize, parallelism = parallelism)
  }

  test("happy path: all rows land, batched, stats correct") {
    val stats = run("happy", (1L to 95L).map(i => (i, s"v$i")), Set.empty)
    assert(stats.loaded == 95 && stats.rejected == 0 && stats.errors.isEmpty)
    val landed = FakeSinkState.committed("happy").map(_.head.asInstanceOf[Long]).sorted
    assert(landed == (1L to 95L))
  }

  test("bad rows isolated by binary split; good rows still land") {
    val bad = Set(7L, 23L, 24L, 60L)
    val stats = run("split", (1L to 100L).map(i => (i, s"v$i")), bad, batchSize = 25)
    assert(stats.rejected == 4)
    assert(stats.loaded == 96)
    assert(stats.errors.size == 4)
    val landed = FakeSinkState.committed("split").map(_.head.asInstanceOf[Long]).toSet
    assert(landed == (1L to 100L).toSet -- bad)
  }

  test("empty partitions never open a connection (lazy acquisition)") {
    val factory = new FakeConnectionFactory("lazy", Set.empty)
    val df = Seq((1L, "a")).toDF("k", "v")
    // parallelism 4 with hash partitioning → ≥3 empty partitions
    val stats = PostgresUpsertSink.upsert(
      df, "t", Some(Seq("k")), factory, batchSize = 10, parallelism = 4, partitionCols = Seq("k"))
    assert(stats.loaded == 1)
    assert(FakeSinkState.connectionCount("lazy") == 1)
  }

  test("poison partition circuit-breaks after a fully-rejected batch") {
    // Every row fails → first batch fully rejects → partition aborts without
    // consuming the rest (reference psycopg2_database_helper.py:168-169).
    val stats = run("poison", (1L to 100L).map(i => (i, "x")), (1L to 100L).toSet,
      batchSize = 10, parallelism = 1)
    assert(stats.rejected == 10) // exactly one batch consumed
    assert(FakeSinkState.committed("poison").isEmpty)
  }

  test("error messages cap at maxErrors; rejects still fully counted") {
    // 150 bad rows alternating with good ones, so no two rejects are
    // consecutive and the poison breaker stays cold: the reject COUNT must
    // stay exact while the message list caps at maxErrors plus one
    // suppression summary — the collected stats stay bounded on a
    // systematically bad feed.
    val bad: Set[Long] = (1L to 300L).filter(_ % 2 == 1).toSet
    val factory = new FakeConnectionFactory("cap", bad)
    val rows = (1L to 300L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = PostgresUpsertSink.writePartition(
      rows.iterator, "sql", factory, batchSize = 10, maxRejects = None)
    assert(stats.loaded == 150 && stats.rejected == 150)
    assert(stats.errors.size == 101)
    assert(stats.errors.last ==
      "(50 further error messages suppressed by maxErrors=100)")
  }

  test("property: every good row lands exactly once, every bad row rejected once") {
    val rng = new scala.util.Random(42) // deterministic
    for (_ <- 1 to 200) {
      val n = 1 + rng.nextInt(120)
      val bad: Set[Long] = (1L to n.toLong).filter(_ => rng.nextDouble() < 0.15).toSet
      val conn = new FakeSinkConnection("", r => bad(r.head.asInstanceOf[Long]))
      val res = PostgresUpsertSink.executeIsolated(
        conn, "sql", (1L to n.toLong).map(i => Seq[Any](i, s"v$i")))
      conn.commit()
      assert(res.rejected == bad.size)
      assert(res.errors.size == bad.size)
      val landed = conn.committed.map(_.head.asInstanceOf[Long])
      assert(landed.toSet == (1L to n.toLong).toSet -- bad)
      assert(landed.size == landed.toSet.size, "each good row lands exactly once")
    }
  }

  test("split cost is bounded: one bad row in batch of 64 costs ≤ 2·log₂(64) extra calls") {
    val conn = new FakeSinkConnection("", r => r.head == 13L)
    val res = PostgresUpsertSink.executeIsolated(
      conn, "sql", (1L to 64L).map(i => Seq[Any](i)))
    assert(res.rejected == 1)
    // 1 initial + at most 2 per split level (log2(64)=6) → ≤ 13
    assert(conn.batchCalls <= 13, s"batchCalls=${conn.batchCalls}")
  }

  /** Character limit of column `v` in [[writeOne]]'s feed. */
  private val VChars = 8

  /** Runs `writePartition` on one fake connection, outside Spark. Rows are
    * `(k, v)`; the keys in `long` get a `v` past its `VChars` limit, which the
    * fake refuses like `bad` unless `acceptLong`.
    */
  private def writeOne(keys: Seq[Long], bad: Set[Long], batchSize: Int,
      long: Set[Long] = Set.empty, acceptLong: Boolean = false) = {
    val refused = if (acceptLong) bad else bad ++ long
    val conn = new FakeSinkConnection("", r => refused(r.head.asInstanceOf[Long]))
    val factory = new graft.sink.ConnectionFactory { def connect() = conn }
    val stats = PostgresUpsertSink.writePartition(
      keys.iterator.map(k => org.apache.spark.sql.Row(k, if (long(k)) s"v$k-far-too-long" else s"v$k")),
      "sql", factory, batchSize = batchSize, maxRejects = None, maxChars = Array(0, VChars))
    (stats, conn)
  }

  /** Keys of each transaction's first statement, in commit order. */
  private def firstStatementKeys(conn: FakeSinkConnection): Seq[Seq[Long]] =
    transactionsOf(conn).map(_._1.head.map(_.head.asInstanceOf[Long]))

  /** The fake's calls regrouped by transaction: the rows of each statement
    * and the rollbacks, for every committed transaction.
    */
  private def transactionsOf(conn: FakeSinkConnection): Seq[(Seq[Seq[Seq[Any]]], Int)] = {
    val txns = scala.collection.mutable.ArrayBuffer.empty[(Seq[Seq[Seq[Any]]], Int)]
    var stmts = Vector.empty[Seq[Seq[Any]]]
    var rollbacks, call = 0
    conn.log.foreach {
      case c if c.startsWith("exec ") => stmts :+= conn.sent(call); call += 1
      case c if c.startsWith("rollback ") => rollbacks += 1
      case c if c.startsWith("commit ") =>
        txns += ((stmts, rollbacks)); stmts = Vector.empty; rollbacks = 0
      case _ => ()
    }
    txns.toSeq
  }

  /** The halving split's cost for one transaction whose first statement
    * has bad rows at `bad`: (statements, rows sent, rollbacks).
    */
  private def halvingModel(size: Int, bad: Seq[Int]): (Long, Long, Long) = {
    var calls, rows, rollbacks = 0L
    var stack = List((0, size))
    while (stack.nonEmpty) {
      val (from, n) = stack.head
      stack = stack.tail
      calls += 1
      rows += n
      if (bad.exists(p => p >= from && p < from + n)) {
        rollbacks += 1
        if (n > 1) stack = (from, n / 2) :: (from + n / 2, n - n / 2) :: stack
      }
    }
    (calls, rows, rollbacks)
  }

  /** Rows each transaction sent in its first statement, in order. */
  private def transactionSizes(calls: Seq[String]): Seq[Int] = {
    var first = true
    calls.flatMap { c =>
      if (c.startsWith("commit")) { first = true; None }
      else if (c.startsWith("exec") && first) { first = false; Some(c.split(' ').last.toInt) }
      else None
    }
  }

  test("transaction size: batchSize until the first reject, then 2^⌊log₂(good/rejected)⌋ / 4") {
    import PostgresUpsertSink.transactionSize
    assert(transactionSize(0, 0, 1000) == 1000)
    assert(transactionSize(99, 1, 1000) == 16)
    assert(transactionSize(127, 1, 1000) == 16)
    assert(transactionSize(128, 1, 1000) == 32)
    assert(transactionSize(3, 1, 1000) == 1)
    assert(transactionSize(1, 1, 1000) == 1)
    assert(transactionSize(0, 1, 1000) == 1)
    assert(transactionSize(5, 10, 1000) == 1)
    assert(transactionSize(150000, 1, 1000) == 1000)
  }

  test("property: writePartition lands every good row once across reject rates; no transaction exceeds batchSize") {
    val rng = new scala.util.Random(7)
    // batchSize ≥ 64 keeps a breaker-length run of rejects out of reach
    // even at 60% (0.6^64 ≈ 6e-15 per position).
    for (rate <- Seq(0.0, 0.001, 0.01, 0.15, 0.6); batchSize <- Seq(64, 1000)) {
      val keys = (1L to 3000L)
      val bad = keys.filter(_ => rng.nextDouble() < rate).toSet
      val (stats, conn) = writeOne(keys, bad, batchSize)
      val clue = s"rate=$rate batchSize=$batchSize"
      assert(stats.rejected == bad.size, clue)
      assert(stats.loaded == keys.size - bad.size, clue)
      val landed = conn.committed.map(_.head.asInstanceOf[Long])
      assert(landed.size == landed.toSet.size, s"each good row lands exactly once, $clue")
      assert(landed.toSet == keys.toSet -- bad, clue)
      val sizes = transactionSizes(conn.log.toSeq)
      assert(sizes.sum == keys.size, clue)
      assert(sizes.forall(_ <= batchSize), clue)
      assert(stats.transactions == sizes.size, clue)
      assert(stats.statements == conn.batchCalls, clue)
      assert(stats.rollbacks == conn.log.count(_.startsWith("rollback")), clue)
    }
  }

  test("clean feed: exactly ⌈n/batchSize⌉ full transactions, one savepoint and statement each") {
    val (stats, conn) = writeOne(1L to 95L, Set.empty, batchSize = 10)
    assert(stats.loaded == 95 && stats.rejected == 0)
    assert(stats.transactions == 10 && stats.statements == 10 && stats.rollbacks == 0)
    assert(transactionSizes(conn.log.toSeq) == Seq.fill(9)(10) :+ 5)
    assert(conn.log.toSeq == (0 until 10).flatMap { t =>
      val n = if (t < 9) 10 else 5
      Seq("savepoint graft_sp_1", s"exec ok $n", s"commit $n")
    })
  }

  test("executeIsolated: no RELEASE, rollbacks target the latest savepoint, no redundant savepoint") {
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val n = 1 + rng.nextInt(200)
      val bad: Set[Long] = (1L to n.toLong).filter(_ => rng.nextDouble() < 0.05).toSet
      val conn = new FakeSinkConnection("", r => bad(r.head.asInstanceOf[Long]))
      PostgresUpsertSink.executeIsolated(conn, "sql", (1L to n.toLong).map(i => Seq[Any](i)))
      assert(!conn.log.exists(_.startsWith("release")), s"RELEASE sent: ${conn.log}")
      var latest: String = null
      var marked = false // the latest savepoint still marks the current state
      val opened = scala.collection.mutable.Set.empty[String]
      conn.log.foreach {
        case c if c.startsWith("savepoint ") =>
          assert(!marked, s"redundant savepoint: ${conn.log}")
          latest = c.stripPrefix("savepoint ")
          assert(opened.add(latest), s"savepoint name reused: ${conn.log}")
          marked = true
        case c if c.startsWith("exec ") =>
          assert(marked, s"statement without a savepoint marking the state: ${conn.log}")
          if (c.startsWith("exec ok")) marked = false
        case c if c.startsWith("rollback ") =>
          assert(c.stripPrefix("rollback ") == latest, s"rollback past the latest savepoint: ${conn.log}")
        case c => fail(s"unexpected call '$c'")
      }
      assert(conn.log.head == "savepoint graft_sp_1")
    }
  }

  test("breaker: an all-bad feed stops after one batchSize of rejects; alternating never trips") {
    val allBad = writeOne(1L to 100L, (1L to 100L).toSet, batchSize = 10)._1
    assert(allBad.rejected == 10 && allBad.loaded == 0)
    // Turning bad mid-feed: the first transaction with a reject is only
    // partly rejected, so the run counts from the next transaction
    // (sizes 2 then 1 at good/rejected = 45/5, then 45/7).
    val turnsBad = writeOne(1L to 200L, (46L to 200L).toSet, batchSize = 10)._1
    assert(turnsBad.loaded == 45 && turnsBad.rejected == 15)
    // Alternating good/bad: transactions shrink to one row, and no run of
    // fully rejected transactions is longer than one row.
    val (alt, conn) = writeOne(1L to 400L, (1L to 400L).filter(_ % 2 == 0).toSet, batchSize = 10)
    assert(alt.loaded == 200 && alt.rejected == 200)
    assert(transactionSizes(conn.log.toSeq).drop(1).forall(_ == 1))
  }

  test("property: every transaction costs the halving model of its first statement's bad rows") {
    // The tier-1 twin of the benchmark's split self-check: each row goes to
    // the server as its own row, none is judged on the Spark side, and the
    // split is the plain halving one, also for rows sent alone.
    val rng = new scala.util.Random(3)
    for (rate <- Seq(0.001, 0.01, 0.15); batchSize <- Seq(64, 1000); withLong <- Seq(false, true)) {
      val keys = 1L to 4000L
      val bad = keys.filter(_ => rng.nextDouble() < rate).toSet
      val long = if (withLong) keys.filter(k => !bad(k) && rng.nextDouble() < 0.005).toSet else Set.empty[Long]
      val (stats, conn) = writeOne(keys, bad, batchSize, long)
      val refused = bad ++ long
      val clue = s"rate=$rate batchSize=$batchSize withLong=$withLong"
      val txns = transactionsOf(conn)
      val firstBad = txns.map { case (stmts, _) =>
        stmts.head.map(_.head.asInstanceOf[Long]).zipWithIndex.collect { case (k, i) if refused(k) => i }
      }
      txns.zip(firstBad).foreach { case ((stmts, rollbacks), pos) =>
        assert((stmts.size.toLong, stmts.map(_.size.toLong).sum, rollbacks.toLong) ==
          halvingModel(stmts.head.size, pos), clue)
      }
      val firstKeys = txns.flatMap(_._1.head.map(_.head.asInstanceOf[Long]))
      assert(refused.subsetOf(firstKeys.toSet), s"a bad key missing from every first statement, $clue")
      assert(firstBad.map(_.size).sum == refused.size, clue)
      assert(stats.rejected == refused.size && stats.sentAlone == long.size, clue)
      assert(firstKeys == keys, s"every row sent once in feed order, $clue")
    }
  }

  test("over-length rows go alone, each right after a flush of the pending transaction, in feed order") {
    val (stats, conn) = writeOne(1L to 50L, Set.empty, batchSize = 10, long = Set(7L, 8L, 30L))
    assert(firstStatementKeys(conn) == Seq(
      1L to 6L, Seq(7L), Seq(8L), 9L to 18L, 19L to 28L, Seq(29L), Seq(30L), 31L to 40L, 41L to 50L))
    assert(stats.loaded == 47 && stats.rejected == 3 && stats.sentAlone == 3)
    assert(stats.transactions == 9 && stats.statements == 9 && stats.rollbacks == 3)
    assert(stats.report.contains("rollbacks: 3, sent alone: 3"), stats.report)
  }

  test("an over-length row the server accepts lands and counts as loaded") {
    val (stats, conn) = writeOne(1L to 20L, Set.empty, batchSize = 10, long = Set(5L), acceptLong = true)
    assert(stats.loaded == 20 && stats.rejected == 0 && stats.sentAlone == 1)
    assert(conn.committed.map(_.head.asInstanceOf[Long]) == (1L to 20L))
    assert(conn.committed(4) == Seq(5L, "v5-far-too-long"))
  }

  test("predicted rejects do not shrink the batched transactions") {
    // A 1% reject rate among batched rows would cut transactions to
    // 2^⌊log₂(99)⌋ / 4 = 16 rows; rows sent alone leave the size at
    // batchSize, so only the flushes before them cut a transaction short.
    val long = (100L to 3000L by 100L).toSet
    val (stats, conn) = writeOne(1L to 3000L, Set.empty, batchSize = 64, long = long)
    assert(stats.rejected == long.size && stats.sentAlone == long.size)
    val segments = (0L +: long.toSeq.sorted :+ 3001L).sliding(2).map { case Seq(a, b) => (a + 1) until b }
    val expected = segments.flatMap(_.grouped(64)).map(_.toSeq).toSeq
    assert(firstStatementKeys(conn).filterNot(s => s.size == 1 && long(s.head)) == expected)
  }

  test("an all-over-length feed trips the breaker after batchSize rejects") {
    val (stats, _) = writeOne(1L to 100L, Set.empty, batchSize = 10, long = (1L to 100L).toSet)
    assert(stats.rejected == 10 && stats.loaded == 0 && stats.sentAlone == 10)
  }

  test("over-length rule: more code points than the limit, and a non-space past it") {
    import PostgresUpsertSink.{predictedReject, tooLong}
    assert(!tooLong("abcdefgh", 8) && tooLong("abcdefghi", 8))
    assert(!tooLong("abcdefgh   ", 8), "excess spaces are truncated, not refused")
    assert(tooLong("abcdefgh  x", 8) && tooLong("abcdefgh\t", 8))
    val smile = new String(Character.toChars(0x1F600)) // two UTF-16 units, one code point
    assert(!tooLong(smile * 8, 8) && tooLong(smile * 9, 8))
    assert(!tooLong("", 1))
    assert(predictedReject(Seq(1L, "abc"), Array(0, 2)))
    assert(!predictedReject(Seq("abc", "ab"), Array(0, 2)), "only limited columns count")
    assert(!predictedReject(Seq(1L, null), Array(0, 2)))
    assert(!predictedReject(Seq(1L, "abc"), Array.emptyIntArray))
  }

  test("shuffle barrier keeps upstream task count independent of sink parallelism") {
    import org.apache.spark.TaskContext
    val acc = spark.sparkContext.collectionAccumulator[Long]("tids_barrier")
    val base = spark.createDataset(1L to 200L)
      .repartition(8) // a genuinely 8-wide upstream stage
      .mapPartitions { it => acc.add(TaskContext.get().taskAttemptId()); it }
      .map(i => (i, s"v$i")).toDF("k", "v")
    val factory = new FakeConnectionFactory("barrier", Set.empty)
    val stats = PostgresUpsertSink.upsert(base, "t", Some(Seq("k")), factory,
      batchSize = 50, parallelism = 1)
    assert(stats.loaded == 200)
    // repartition(1) is a shuffle barrier: the 8-task upstream stage still
    // runs 8-wide even though only 1 connection writes, where the
    // reference's coalesce(1) would collapse it to 1 task.
    assert(acc.value.toArray.distinct.length == 8)
  }

  test("connection dying once mid-partition: reconnect resumes with zero spurious rejects") {
    // Connection #1 serves three executeBatch calls, then the socket "drops"
    // at the start of call #4 (uncommitted — the in-flight batch is lost with
    // the transaction). The sink must reconnect once and re-run that batch;
    // every row lands exactly once, nothing is rejected.
    class DieOnceConnection(id: String) extends FakeSinkConnection(id, _ => false) {
      private var calls = 0
      override def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
        calls += 1
        if (calls == 4 && !FlakyState.died(id)) {
          FlakyState.markDied(id)
          throw new graft.sink.SinkConnectionLostException("connection reset by peer")
        }
        super.executeBatch(sql, batch)
      }
    }
    val id = "die_once"
    FakeSinkState.init(id); FlakyState.init(id)
    val factory = new graft.sink.ConnectionFactory {
      def connect() = { FakeSinkState.countConnection(id); new DieOnceConnection(id) }
    }
    val rows = (1L to 100L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = graft.sink.PostgresUpsertSink.writePartition(
      rows.iterator, "sql", factory, batchSize = 10, maxRejects = None)
    assert(stats.loaded == 100 && stats.rejected == 0 && stats.errors.isEmpty)
    val landed = FakeSinkState.committed(id).map(_.head.asInstanceOf[Long]).sorted
    assert(landed == (1L to 100L), "every row exactly once despite the drop")
    assert(FakeSinkState.connectionCount(id) == 2, "exactly one reconnect")
  }

  test("connection lost during commit (in doubt): keyed re-run stays exactly-once") {
    // The drop strikes AFTER the commit applied — the worst case: the retry
    // re-runs a batch that already landed. With the keyed upsert executed by
    // the parsing fake, the re-run is idempotent and final state matches the
    // single-application expectation.
    class CommitDropConnection(id: String) extends KeyedUpsertFakeConnection(id, _ => false) {
      override def commit(): Unit = {
        super.commit() // durable...
        if (!FlakyState.died(id)) { // ...but the ack never arrives, once
          FlakyState.markDied(id)
          throw new graft.sink.SinkConnectionLostException("broken pipe during commit")
        }
      }
    }
    val id = "commit_drop"
    KeyedSinkState.init(id); FlakyState.init(id)
    val factory = new graft.sink.ConnectionFactory {
      def connect() = new CommitDropConnection(id)
    }
    val sql = graft.sink.UpsertSqlGen.build(Seq("k", "v"), "t", Seq("k"))
    val rows = (1L to 30L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = graft.sink.PostgresUpsertSink.writePartition(
      rows.iterator, sql, factory, batchSize = 10, maxRejects = None)
    assert(stats.loaded == 30 && stats.rejected == 0)
    assert(KeyedSinkState.rows(id).map(_.head.asInstanceOf[Long]).sorted == (1L to 30L),
      "idempotent upsert: the in-doubt batch lands exactly once")
  }

  test("reconnect budget exhausted: the connection loss propagates (task retry territory)") {
    class AlwaysDeadConnection extends FakeSinkConnection("", _ => false) {
      override def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit =
        throw new graft.sink.SinkConnectionLostException("network partition")
    }
    val factory = new graft.sink.ConnectionFactory {
      def connect() = new AlwaysDeadConnection
    }
    val rows = (1L to 10L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    intercept[graft.sink.SinkConnectionLostException] {
      graft.sink.PostgresUpsertSink.writePartition(
        rows.iterator, "sql", factory, batchSize = 10, maxRejects = None)
    }
  }

  test("constraint violations still binary-split after a reconnect consumed the budget") {
    // A drop on call #2 eats the reconnect budget; a genuinely bad row later
    // in the feed must STILL be isolated by the split machinery, proving the
    // retry path and the reject path stay orthogonal.
    class DieOnceThenStrict(id: String) extends FakeSinkConnection(id, r => r.head == 17L) {
      private var calls = 0
      override def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
        calls += 1
        if (calls == 2 && !FlakyState.died(id)) {
          FlakyState.markDied(id)
          throw new graft.sink.SinkConnectionLostException("connection reset")
        }
        super.executeBatch(sql, batch)
      }
    }
    val id = "die_then_reject"
    FakeSinkState.init(id); FlakyState.init(id)
    val factory = new graft.sink.ConnectionFactory {
      def connect() = new DieOnceThenStrict(id)
    }
    val rows = (1L to 40L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = graft.sink.PostgresUpsertSink.writePartition(
      rows.iterator, "sql", factory, batchSize = 10, maxRejects = None)
    assert(stats.rejected == 1 && stats.loaded == 39)
    val landed = FakeSinkState.committed(id).map(_.head.asInstanceOf[Long]).toSet
    assert(landed == (1L to 40L).toSet - 17L)
  }

  test("insert-only mode (no unique key) uses plain INSERT") {
    val factory = new FakeConnectionFactory("insertonly", Set.empty)
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val stats = PostgresUpsertSink.upsert(df, "t", None, factory, batchSize = 10, parallelism = 1)
    assert(stats.loaded == 2 && stats.rejected == 0)
    assert(FakeSinkState.committed("insertonly").size == 2)
  }
}
