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
    // 50 bad rows alternating with good ones, so no two rejects are
    // consecutive and the poison breaker stays cold: the reject COUNT must
    // stay exact while the message list caps at maxErrors plus one
    // suppression summary — the collected stats stay bounded on a
    // systematically bad feed.
    val bad: Set[Long] = (1L to 100L).filter(_ % 2 == 1).toSet
    val factory = new FakeConnectionFactory("cap", bad)
    val rows = (1L to 100L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = PostgresUpsertSink.writePartition(
      rows.iterator, "sql", factory, batchSize = 10, maxRejects = None,
      maxErrors = 7)
    assert(stats.loaded == 50 && stats.rejected == 50)
    assert(stats.errors.size == 8)
    assert(stats.errors.last ==
      "(43 further error messages suppressed by maxErrors=7)")
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

  /** Runs `writePartition` on one fake connection, outside Spark. */
  private def writeOne(keys: Seq[Long], bad: Set[Long], batchSize: Int) = {
    val conn = new FakeSinkConnection("", r => bad(r.head.asInstanceOf[Long]))
    val factory = new graft.sink.ConnectionFactory { def connect() = conn }
    val stats = PostgresUpsertSink.writePartition(
      keys.iterator.map(k => org.apache.spark.sql.Row(k, s"v$k")), "sql", factory,
      batchSize = batchSize, maxRejects = None)
    (stats, conn)
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

  test("transaction size: batchSize until the first reject, then 2^⌊log₂(good/rejected)⌋") {
    import PostgresUpsertSink.transactionSize
    assert(transactionSize(0, 0, 1000) == 1000)
    assert(transactionSize(99, 1, 1000) == 64)
    assert(transactionSize(127, 1, 1000) == 64)
    assert(transactionSize(128, 1, 1000) == 128)
    assert(transactionSize(3, 1, 1000) == 2)
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
    // (sizes 8 then 2 at good/rejected = 45/5, then 45/13).
    val turnsBad = writeOne(1L to 200L, (46L to 200L).toSet, batchSize = 10)._1
    assert(turnsBad.loaded == 45 && turnsBad.rejected == 15)
    // Alternating good/bad: transactions shrink to one row, and no run of
    // fully rejected transactions is longer than one row.
    val (alt, conn) = writeOne(1L to 400L, (1L to 400L).filter(_ % 2 == 0).toSet, batchSize = 10)
    assert(alt.loaded == 200 && alt.rejected == 200)
    assert(transactionSizes(conn.log.toSeq).drop(1).forall(_ == 1))
  }

  test("shuffle barrier keeps upstream task count independent of sink parallelism") {
    import org.apache.spark.TaskContext
    def upstreamTasks(shuffleBarrier: Boolean, id: String): Int = {
      val acc = spark.sparkContext.collectionAccumulator[Long](s"tids_$id")
      val base = spark.createDataset(1L to 200L)
        .repartition(8) // a genuinely 8-wide upstream stage
        .mapPartitions { it => acc.add(TaskContext.get().taskAttemptId()); it }
        .map(i => (i, s"v$i")).toDF("k", "v")
      val factory = new FakeConnectionFactory(s"barrier_$id", Set.empty)
      val stats = PostgresUpsertSink.upsert(base, "t", Some(Seq("k")), factory,
        batchSize = 50, parallelism = 1, shuffleBarrier = shuffleBarrier)
      assert(stats.loaded == 200)
      acc.value.toArray.distinct.length
    }
    // repartition(1) is a shuffle barrier: the 8-task upstream stage still
    // runs 8-wide even though only 1 connection writes.
    assert(upstreamTasks(shuffleBarrier = true, "on") == 8)
    // reference-faithful coalesce(1) collapses the upstream to 1 task.
    assert(upstreamTasks(shuffleBarrier = false, "off") == 1)
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
