package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{array, col}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{FunnelEvent, KmvEvent, SessionEvent, SessionOut, ValueEvent}

class EventStreamsSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked hourly windows finalize in append mode once the watermark passes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long, Double)]
    val windows = EventStreams.hourlyEventWindows(
      input.toDF().toDF("tsm", "event_type", "user_id", "value"), watermark = "1 hour")
    val q = windows.writeStream.format("memory").queryName("ew_test")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2025-01-01 00:10:00"), "click", 1L, 1.5),
        (ts("2025-01-01 00:20:00"), "click", 2L, 2.5),
        (ts("2025-01-01 00:40:00"), "view", 1L, 0.5))
      q.processAllAvailable()
      // watermark so far: 23:40 of the previous day — nothing finalized
      assert(spark.table("ew_test").isEmpty)

      // 03:00 event pushes the watermark to 02:00 → hour-0 windows close
      input.addData((ts("2025-01-01 03:00:00"), "click", 3L, 1.0))
      q.processAllAvailable()
      val out = spark.table("ew_test")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(4)))
        .toSet
      val hour0 = ts("2025-01-01 00:00:00").getTime / 1000
      assert(out == Set((hour0, "click", 2L, 4.0), (hour0, "view", 1L, 0.5)))
    } finally q.stop()
  }

  test("late rows beyond the watermark are dropped, within it they count") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long, Double)]
    val q = EventStreams.hourlyEventWindows(
      input.toDF().toDF("tsm", "event_type", "user_id", "value"), watermark = "1 hour")
      .writeStream.format("memory").queryName("ew_late").outputMode("append").start()
    try {
      input.addData((ts("2025-01-01 05:30:00"), "click", 1L, 1.0))
      q.processAllAvailable() // watermark → 04:30
      input.addData((ts("2025-01-01 04:45:00"), "click", 2L, 1.0)) // within watermark: counts
      input.addData((ts("2025-01-01 02:00:00"), "click", 9L, 9.0)) // beyond: dropped
      q.processAllAvailable()
      input.addData((ts("2025-01-01 09:00:00"), "click", 1L, 0.0)) // close everything ≤ 08:00
      q.processAllAvailable()
      val byWindow = spark.table("ew_late").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val h = (hh: Int) => ts(f"2025-01-01 $hh%02d:00:00").getTime / 1000
      assert(byWindow.get(h(4)) == Some(1L), "in-watermark late row must land")
      assert(!byWindow.contains(h(2)), "beyond-watermark row must be dropped")
      assert(byWindow.get(h(5)) == Some(1L))
    } finally q.stop()
  }

  test("streaming dedup: in-batch and cross-batch duplicates drop; post-horizon re-emits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val q = EventStreams.dedupEvents(
        input.toDF().toDF("tsm", "event_id"), Seq("event_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dd_test").outputMode("append").start()
    def rowsFor(id: Long) =
      spark.table("dd_test").filter($"event_id" === id).count()
    try {
      input.addData(
        (ts("2025-01-01 00:10:00"), 1L),
        (ts("2025-01-01 00:10:00"), 1L), // in-batch duplicate
        (ts("2025-01-01 00:20:00"), 2L))
      q.processAllAvailable()
      assert(rowsFor(1L) == 1 && rowsFor(2L) == 1)
      input.addData((ts("2025-01-01 00:30:00"), 1L)) // cross-batch, within horizon
      q.processAllAvailable()
      assert(rowsFor(1L) == 1, "within-horizon duplicate must drop")
      // 06:00 advances the watermark to 05:00, far past key 1's
      // 00:10 + 1 h expiry — its dedup state is evicted.
      input.addData((ts("2025-01-01 06:00:00"), 99L))
      q.processAllAvailable()
      input.addData((ts("2025-01-01 05:50:00"), 1L)) // not late, state gone
      q.processAllAvailable()
      assert(rowsFor(1L) == 2, "post-horizon duplicate re-emits — the bounded-state trade")
      assert(rowsFor(99L) == 1)
    } finally q.stop()
  }

  test("hot-key sessionize state stays O(1): one state row through a 30k-event replay") {
    // The scaladoc's state claim, measured: a single user replaying 30k
    // in-gap events across three micro-batches must never hold more than
    // ONE state row (five counters) — state is bounded by active-user
    // cardinality, not event volume, which is what lets the operator
    // survive a hot key at production scale.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(input.toDS(), gapSec = 10000000L)
      .writeStream.format("memory").queryName("hot_sess").outputMode("append").start()
    try {
      var base = 0L
      for (_ <- 0 until 3) {
        input.addData((0 until 10000).map(i => SessionEvent(1L, base + i, false, 1.0)))
        base += 10000
        q.processAllAvailable()
        val so = q.lastProgress.stateOperators
        assert(so.nonEmpty && so(0).numRowsTotal == 1,
          s"hot key must keep exactly one state row, got ${so.map(_.numRowsTotal).mkString(",")}")
      }
    } finally q.stop()
  }

  test("hot-key funnel buffer: noise never buffers, horizon timeout evicts the key") {
    // funnelExact's measured state bound: (a) only STEP rows buffer — a
    // noise-dominated hot key (20k step = -1 rows, 3 step rows) keeps
    // total state memory under 512 KB where buffering the noise would
    // cost megabytes; (b) once the watermark passes the user's horizon
    // the buffer folds, emits, and the key's state is EVICTED — the
    // buffer-until-watermark design holds state for horizonSec, never
    // forever.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.EventStreams.FunnelEvent
    val input = MemoryStream[FunnelEvent]
    val q = EventStreams.funnelExact(input.toDS(), numSteps = 3, horizonSec = 100L)
      .writeStream.format("memory").queryName("hot_funnel").outputMode("append").start()
    try {
      input.addData(Seq(
        FunnelEvent(1L, 1000000L, 0L, 0),
        FunnelEvent(1L, 2000000L, 1L, 1),
        FunnelEvent(1L, 3000000L, 2L, 2)) ++
        (0 until 20000).map(i => FunnelEvent(1L, 4000000L + i, i.toLong, -1)))
      q.processAllAvailable()
      val so = q.lastProgress.stateOperators
      assert(so.nonEmpty && so(0).numRowsTotal == 1)
      assert(so(0).memoryUsedBytes < 512 * 1024,
        s"noise rows must not buffer: state uses ${so(0).memoryUsedBytes} bytes")
      // A far-future user (500s ≫ 4s + 100s horizon) advances the
      // watermark; the following data batch fires the timeout.
      input.addData(FunnelEvent(2L, 500000000L, 0L, 0))
      q.processAllAvailable()
      input.addData(FunnelEvent(3L, 600000000L, 0L, 0))
      q.processAllAvailable()
      val out = spark.table("hot_funnel").filter($"userId" === 1L).collect()
      assert(out.length == 1 && out(0).getInt(2) == 3,
        "hot user folds once with all three steps")
      assert(q.lastProgress.stateOperators(0).numRowsTotal <= 2,
        "hot key's buffer must be evicted after its horizon")
    } finally q.stop()
  }

  /** One horizon-close operator in the deadline-shrink scenario of
    * [[monotoneDeadline]]: `arrival(i, sec)` is the tracked key's i-th row
    * (i = 1, 2, 3) at event second `sec`, `advance(sec)` a row that only
    * advances the watermark, `tracked` selects the tracked key's closed
    * rows, and `closedAll` checks that its one close folded all three
    * arrivals.
    */
  private final class Monotone[E](val name: String,
      val arrival: (Int, Long) => E, val advance: Long => E,
      val op: Dataset[E] => DataFrame, val tracked: Column,
      val closedAll: Row => Boolean)(implicit val enc: Encoder[E])

  /** Regression for the deadline-shrink bug: a timeout set from the
    * CURRENT batch's max event time alone lets a later micro-batch of
    * older (still-in-watermark) events PULL IN the deadline — the key then
    * closes early, and a further in-watermark arrival re-opens a second
    * group, emitting a duplicate row for the key. The running-max deadline
    * carried in the [[EventStreams.Horizon]] state forbids both. Watermark
    * delay 1000 s, horizon 100 s.
    */
  private def monotoneDeadline[E](c: Monotone[E]): Unit = {
    implicit val enc: Encoder[E] = c.enc
    implicit val sq: SQLContext = spark.sqlContext
    val sink = "monotone_" + c.name.filter(_.isLetter).toLowerCase
    val input = MemoryStream[E]
    val q = c.op(input.toDS())
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    def feed(row: E): Unit = { input.addData(row); q.processAllAvailable() }
    try {
      // watermark = 1000 s; deadline = 2100 s. An OLDER arrival (1200 s,
      // in-watermark) must not shrink it to 1300 s.
      feed(c.arrival(1, 2000))
      feed(c.arrival(2, 1200))
      // watermark → 1500 s: past the SHRUNK deadline, before the true one
      feed(c.advance(2500))
      assert(spark.table(sink).filter(c.tracked).isEmpty,
        s"${c.name}: key must NOT close before the watermark passes its true deadline")
      // another in-watermark arrival folds into the SAME open group
      feed(c.arrival(3, 1600))
      // watermark past the true deadline (2100 s); the next batch fires the timeout
      feed(c.advance(3200))
      feed(c.advance(3400))
      val out = spark.table(sink).filter(c.tracked).collect()
      assert(out.length == 1, s"${c.name}: key must close exactly once, got ${out.toSeq}")
      assert(c.closedAll(out(0)),
        s"${c.name}: the one close must fold all three arrivals, got ${out(0)}")
    } finally q.stop()
  }

  private def us(sec: Long) = sec * 1000000L

  // One table across the three state kinds: an event buffer (funnel), a
  // sketch (KMV), a count map (value counts), and MG candidates, whose
  // event time is epoch seconds and whose watermark-advancing rows are
  // NULL-item rows that never reach a shard.
  Seq[Monotone[_]](
    new Monotone[FunnelEvent]("funnel",
      // the LAST step arrives first; steps 0 and 1 arrive late, in-watermark
      (i, sec) => FunnelEvent(1L, us(sec), 0L, Map(1 -> 2, 2 -> 0, 3 -> 1)(i)),
      sec => FunnelEvent(9L, us(sec), 0L, 0),
      ds => EventStreams.funnelExact(ds, numSteps = 3, horizonSec = 100L,
        lateSec = 1000L).toDF(),
      col("userId") === 1L,
      _.getInt(2) == 3)(Encoders.product[FunnelEvent]),
    new Monotone[KmvEvent]("KMV",
      (i, sec) => KmvEvent("a", 10L * i, us(sec)),
      sec => KmvEvent("wm", 1L, us(sec)),
      ds => EventStreams.kmvDistinctExact(ds, k = 64,
        range = graft.operators.TextOps.Prime, horizonSec = 100L,
        lateSec = 1000L).toDF(),
      col("key") === "a",
      _.getInt(1) == 3)(Encoders.product[KmvEvent]),
    new Monotone[ValueEvent]("valueCounts",
      (_, sec) => ValueEvent("a", us(sec), 7L),
      sec => ValueEvent("wm", us(sec), 0L),
      ds => EventStreams.valueCountsExact(ds, horizonSec = 100L,
        lateSec = 1000L).toDF(),
      col("key") === "a",
      _.getLong(2) == 3L)(Encoders.product[ValueEvent]),
    new Monotone[(Timestamp, String)]("MG candidates",
      (_, sec) => (new Timestamp(sec * 1000L), "x"),
      sec => (new Timestamp(sec * 1000L), null),
      ds => EventStreams.mgCandidatesStream(ds.toDF("tsm", "item"),
        array(col("item")), "tsm", capacity = 4, nShards = 1,
        horizonSec = 100L, watermarkDelay = "1000 seconds").toDF(),
      col("item") === "x",
      _.getLong(2) == 3L)(Encoders.tuple(Encoders.TIMESTAMP, Encoders.STRING))
  ).foreach { c =>
    test(s"${c.name} horizon deadline is monotone: an older in-watermark batch " +
      "never re-arms an early emit") {
      monotoneDeadline(c)
    }
  }

  test("streaming KMV sketch: slicing/disorder invariant, O(k) state under a hot key") {
    // The mergeable-sketch contract: (a) a hot key feeding 30k hashes
    // holds ONE state row of O(k) longs — bounded by construction, not by
    // horizon; (b) the emitted sketch equals the shared KmvBuffer readout
    // of the same value set, under BOTH an ordered 3-batch replay and a
    // shuffled 4-batch replay whose disorder stays within the watermark
    // delay (the commutative set fold is order-free; disorder DEEPER than
    // the delay is dropped at the source — the trade every watermarked
    // operator makes, same as funnelExact's lateSec contract).
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.EventStreams.KmvEvent
    val rng = new scala.util.Random(7)
    val hashes = Seq.fill(30000)(rng.nextInt(1000000000).toLong)
    val ref = new graft.functions.KmvBuffer(64)
    hashes.foreach(ref.insert)
    val (refKth, refEst) = ref.kthAndEstimate(graft.operators.TextOps.Prime)

    def run(slices: Seq[Seq[KmvEvent]], name: String,
        lateSec: Long): (Int, Long, Double) = {
      val input = MemoryStream[KmvEvent]
      val q = EventStreams.kmvDistinctExact(input.toDS(), k = 64,
        range = graft.operators.TextOps.Prime, horizonSec = 100L,
        lateSec = lateSec)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        slices.foreach { s => input.addData(s); q.processAllAvailable() }
        val so = q.lastProgress.stateOperators
        assert(so.nonEmpty && so(0).numRowsTotal == 1)
        assert(so(0).memoryUsedBytes < 64 * 1024,
          s"state must stay O(k): ${so(0).memoryUsedBytes} bytes")
        input.addData(KmvEvent("wm", 1L, 500000000L)); q.processAllAvailable()
        input.addData(KmvEvent("wm2", 1L, 600000000L)); q.processAllAvailable()
        val out = spark.table(name).filter($"key" === "a").collect()
        assert(out.length == 1, s"hot key must emit exactly once, got ${out.length}")
        (out(0).getInt(1), out(0).getLong(2), out(0).getDouble(3))
      } finally q.stop()
    }

    val evts = hashes.zipWithIndex.map { case (h, i) => KmvEvent("a", h, 1000000L + i) }
    // the events span ~0.03 s of event time; lateSec=5 covers any shuffle
    val ordered = run(evts.grouped(10000).toSeq, "kmv_ordered", lateSec = 0L)
    val shuffled = run(rng.shuffle(evts).grouped(7777).toSeq, "kmv_shuffled", lateSec = 5L)
    assert(ordered == ((ref.n, refKth, refEst)), "stream sketch must equal the batch readout")
    assert(shuffled == ordered, "sketch must be independent of slicing and order")
  }

  test("streaming hash sample: slicing/disorder invariant, equals the batch buffer readout") {
    // Same mergeable-sketch contract as the KMV test: the bottom-k-by-hash
    // (hash, value) sample is a commutative set function, so an ordered
    // 3-batch replay and a shuffled 4-batch replay (disorder within the
    // watermark delay) both land on the batch HashSampleBuffer's exact
    // readout, with ONE O(k)-pair state row under a hot key.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.EventStreams.SampleEvent
    val rng = new scala.util.Random(17)
    val pairs = Vector.fill(20000)(
      (math.floorMod(rng.nextLong(), graft.operators.TextOps.Prime),
        rng.nextInt(100000).toLong))
    val ref = new graft.functions.HashSampleBuffer(64)
    pairs.foreach { case (h, v) => ref.insert(h, v) }
    val refVals = ref.vals.take(ref.n).sorted.toSeq

    def run(slices: Seq[Seq[SampleEvent]], name: String, lateSec: Long): Seq[Long] = {
      val input = MemoryStream[SampleEvent]
      val q = EventStreams.hashSampleExact(input.toDS(), k = 64,
        horizonSec = 100L, lateSec = lateSec)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        slices.foreach { s => input.addData(s); q.processAllAvailable() }
        val so = q.lastProgress.stateOperators
        assert(so.nonEmpty && so(0).numRowsTotal == 1)
        input.addData(SampleEvent("wm", 1L, 1L, 500000000L)); q.processAllAvailable()
        input.addData(SampleEvent("wm2", 1L, 1L, 600000000L)); q.processAllAvailable()
        val out = spark.table(name).filter($"key" === "a").collect()
        assert(out.length == 1, s"hot key must emit exactly once, got ${out.length}")
        assert(out(0).getInt(1) == 64)
        out(0).getSeq[Long](2)
      } finally q.stop()
    }

    val evts = pairs.zipWithIndex.map { case ((h, v), i) =>
      SampleEvent("a", h, v, 1000000L + i) }
    val ordered = run(evts.grouped(7000).toSeq, "hs_ordered", lateSec = 0L)
    val shuffled = run(rng.shuffle(evts).grouped(5555).toSeq, "hs_shuffled", lateSec = 5L)
    assert(ordered == refVals, "stream sample must equal the batch buffer readout")
    assert(shuffled == ordered, "sample must be independent of slicing and order")
  }

  test("file-source readStream over the events fixture matches the batch aggregation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The streaming twin consumes the SAME parquet fixture through
    // readStream (schema pinned — streaming sources don't infer), with an
    // effectively-infinite watermark so complete mode sees every row.
    val dir = s"$sf0001"
    // FileStreamSource requires a DIRECTORY — stage the NORMALIZED fixture
    // (Tables.events: ts as nanos BIGINT whatever the physical type) in one;
    // FileStreamSource ignores the write's _SUCCESS/.crc artifacts.
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_events")
    Tables.events(spark, dir).coalesce(1)
      .write.mode("overwrite").parquet(staged.toString)
    val schema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(schema).parquet(staged.toString)
      .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      .select($"tsm", $"event_type", $"user_id", $"value")
    val q = EventStreams.hourlyEventWindows(stream, watermark = "3650 days")
      .drop("n_users_approx") // HLL vs exact distinct is the one documented divergence
      .writeStream.format("memory").queryName("ew_file").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ew_file")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Tables.events(spark, dir)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
        .groupBy(window($"tsm", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum($"value".cast("decimal(18,4)")).cast("double").as("total_value"))
        .select(unix_timestamp($"w.start"), $"event_type", $"n_events", $"total_value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessionization: gap closes a session, new one opens") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(input.toDS(), gapSec = 600)
      .writeStream.format("memory").queryName("sess_test").outputMode("append").start()
    try {
      // user 1: two events 100s apart (one session), then a 1000s gap
      input.addData(
        SessionEvent(1L, 1000L, isPurchase = false, 1.0),
        SessionEvent(1L, 1100L, isPurchase = true, 2.0))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, 2200L, isPurchase = false, 3.0)) // gap 1100 > 600
      q.processAllAvailable()
      val closed = spark.table("sess_test").as[SessionOut].collect()
      assert(closed.toSeq == Seq(SessionOut(1L, 1000L, 1100L, 2L, 1L, 3.0)),
        s"first session must close when the gap exceeds gapSec, got ${closed.toSeq}")

      // Out-of-order within the watermark: a late event must not move the
      // session end backwards (end stays 2200; gap math unaffected).
      // (watermarkDelaySec defaults to 0 here, but the merge must be robust
      // to cross-batch disorder regardless.)

      // Timeout path: user 2's far-future events advance the watermark past
      // user 1's (2200 + 600) deadline → the idle session closes with no
      // further user-1 data.
      input.addData(SessionEvent(2L, 9000L, isPurchase = false, 0.5))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, 9100L, isPurchase = false, 0.5))
      q.processAllAvailable()
      val all = spark.table("sess_test").as[SessionOut].collect().toSet
      assert(all.contains(SessionOut(1L, 2200L, 2200L, 1L, 0L, 3.0)),
        s"idle session must close via event-time timeout, got $all")
    } finally q.stop()
  }

  test("stragglers are CARRIED across micro-batches and merge before closing") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(input.toDS(), gapSec = 600, watermarkDelaySec = 10000)
      .writeStream.format("memory").queryName("sess_straggler").outputMode("append").start()
    try {
      input.addData(
        SessionEvent(1L, 5000L, isPurchase = false, 1.0),
        SessionEvent(1L, 5100L, isPurchase = false, 1.0))
      q.processAllAvailable()
      // t=1000/1100 are a full gap BEFORE the open session's start: they
      // must not be absorbed (that would drag the session start across a
      // real gap) — they fold into ONE pending chain, carried in state
      // (NOT closed at batch end: a later in-watermark batch may extend it).
      input.addData(
        SessionEvent(1L, 1000L, isPurchase = true, 2.0),
        SessionEvent(1L, 1100L, isPurchase = false, 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_straggler").isEmpty,
        "an in-watermark pending chain must not close at batch end")
      // Next micro-batch delivers 1200 — within the gap of the CARRIED
      // chain: it must merge (the r15-ADVICE case the batch twin merges).
      input.addData(SessionEvent(1L, 1200L, isPurchase = false, 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_straggler").isEmpty)
      // A forward gap closes the open session inline; the chain still
      // waits on the watermark.
      input.addData(SessionEvent(1L, 99000L, isPurchase = false, 0.0))
      q.processAllAvailable()
      val afterMain = spark.table("sess_straggler").as[SessionOut].collect().toSeq
      assert(afterMain == Seq(SessionOut(1L, 5000L, 5100L, 2L, 0L, 2.0)), s"got $afterMain")
      // This batch lifts the watermark past the chain's deadline
      // (99000 − 10000 ≫ 1200 + 600): the merged three-event chain closes.
      input.addData(SessionEvent(1L, 120000L, isPurchase = false, 0.0))
      q.processAllAvailable()
      val all = spark.table("sess_straggler").as[SessionOut].collect().toSet
      assert(all.contains(SessionOut(1L, 1000L, 1200L, 3L, 1L, 4.0)),
        s"the carried chain must close merged across batches, got $all")
    } finally q.stop()
  }

  test("two simultaneous pending chains: the earlier closes, the later carries and merges") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(input.toDS(), gapSec = 600, watermarkDelaySec = 100000)
      .writeStream.format("memory").queryName("sess_chain").outputMode("append").start()
    try {
      // Open a session far in the future so everything later is a straggler.
      input.addData(
        SessionEvent(1L, 20000L, isPurchase = false, 1.0),
        SessionEvent(1L, 20100L, isPurchase = false, 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_chain").isEmpty)

      // One batch, three stragglers: 1000 and 1300 chain (gap 300 ≤ 600),
      // 5000 breaks the chain (gap 3700). ONE chain slot is carried, so the
      // EARLIER chain closes immediately (the documented divergence corner)
      // and [5000] stays pending. Purchases/values ride the merge.
      input.addData(
        SessionEvent(1L, 1000L, isPurchase = true, 2.0),
        SessionEvent(1L, 1300L, isPurchase = false, 1.0),
        SessionEvent(1L, 5000L, isPurchase = false, 1.0))
      q.processAllAvailable()
      val afterBreak = spark.table("sess_chain").as[SessionOut].collect().toSet
      assert(afterBreak == Set(SessionOut(1L, 1000L, 1300L, 2L, 1L, 3.0)),
        s"got $afterBreak")

      // Next batch delivers 5200 — within gap of the CARRIED [5000] chain:
      // it merges across the micro-batch boundary (batch-twin semantics).
      input.addData(SessionEvent(1L, 5200L, isPurchase = false, 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_chain").as[SessionOut].collect().toSet == afterBreak,
        "the carried chain must keep waiting on the watermark")

      // Close the open session inline; then lift the watermark past the
      // chain's deadline so the MERGED [5000,5200] chain closes.
      input.addData(SessionEvent(1L, 999000L, isPurchase = false, 0.0))
      q.processAllAvailable()
      input.addData(SessionEvent(1L, 1999000L, isPurchase = false, 0.0))
      q.processAllAvailable()
      val all = spark.table("sess_chain").as[SessionOut].collect().toSet
      assert(all.contains(SessionOut(1L, 5000L, 5200L, 2L, 0L, 2.0)),
        s"cross-batch chain merge missing, got $all")
      assert(all.contains(SessionOut(1L, 20000L, 20100L, 2L, 0L, 2.0)), s"got $all")
    } finally q.stop()
  }

  test("cross-batch early events within the gap extend the session BACKWARD (min endpoint)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(input.toDS(), gapSec = 600, watermarkDelaySec = 100000)
      .writeStream.format("memory").queryName("sess_backward").outputMode("append").start()
    try {
      input.addData(
        SessionEvent(1L, 2000L, isPurchase = false, 1.0),
        SessionEvent(1L, 2100L, isPurchase = true, 1.0))
      q.processAllAvailable()
      // 1600 is before the start but within the gap (2000−1600 ≤ 600): it
      // must MERGE and move the start down, not open a straggler chain.
      input.addData(SessionEvent(1L, 1600L, isPurchase = false, 1.0))
      q.processAllAvailable()
      // 1400 sits exactly at the new boundary (start−gap = 1600−600 = 1000 <
      // 1400): still a merge — the straggler guard is strict.
      input.addData(SessionEvent(1L, 1400L, isPurchase = false, 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_backward").isEmpty,
        "backward extensions must not close anything")
      input.addData(SessionEvent(1L, 99000L, isPurchase = false, 0.0))
      q.processAllAvailable()
      val closed = spark.table("sess_backward").as[SessionOut].collect().toSeq
      assert(closed == Seq(SessionOut(1L, 1400L, 2100L, 4L, 1L, 4.0)), s"got $closed")
    } finally q.stop()
  }

  test("sessionization survives out-of-order events across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    // generous watermark delay so late events are legal
    val q = EventStreams.sessionize(input.toDS(), gapSec = 600, watermarkDelaySec = 10000)
      .writeStream.format("memory").queryName("sess_ooo").outputMode("append").start()
    try {
      input.addData(
        SessionEvent(1L, 1000L, isPurchase = false, 1.0),
        SessionEvent(1L, 1500L, isPurchase = false, 1.0))
      q.processAllAvailable()
      // late event INSIDE the open session must not move its end backwards
      input.addData(SessionEvent(1L, 1100L, isPurchase = true, 1.0))
      q.processAllAvailable()
      // 1800 is within gap of the true end (1500): session must NOT close
      input.addData(SessionEvent(1L, 1800L, isPurchase = false, 1.0))
      q.processAllAvailable()
      assert(spark.table("sess_ooo").isEmpty,
        "no session may close while events stay within the gap of the true end")
      // a real gap closes one merged session covering all four events
      input.addData(SessionEvent(1L, 9000L, isPurchase = false, 0.0))
      q.processAllAvailable()
      val closed = spark.table("sess_ooo").as[SessionOut].collect().toSeq
      assert(closed == Seq(SessionOut(1L, 1000L, 1800L, 4L, 1L, 4.0)), s"got $closed")
    } finally q.stop()
  }

  test("classBalanceExact: count-map state merges across micro-batches; BigInt exact") {
    import graft.streaming.EventStreams.{ClassEvent, ClassBalanceOut}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[ClassEvent]
    val q = EventStreams.classBalanceExact(input.toDS(), horizonSec = 10)
      .writeStream.format("memory").queryName("cls_bal").outputMode("append").start()
    try {
      input.addData(ClassEvent("s", 1000000000L, "a"),
        ClassEvent("s", 1001000000L, "a"), ClassEvent("s", 1002000000L, "b"))
      q.processAllAvailable()
      input.addData(ClassEvent("s", 1003000000L, "b"),
        ClassEvent("s", 1004000000L, "c"))
      q.processAllAvailable()
      assert(spark.table("cls_bal").isEmpty, "must hold until the watermark")
      // another key far in the future lifts the watermark past s's deadline
      input.addData(ClassEvent("z", 9000000000L, "x"))
      q.processAllAvailable()
      input.addData(ClassEvent("z", 9100000000L, "x"))
      q.processAllAvailable()
      val got = spark.table("cls_bal").as[ClassBalanceOut].collect()
        .filter(_.key == "s").toSeq
      // counts a=2 b=2 c=1 merged ACROSS the two batches: n=5, sq=9
      assert(got == Seq(ClassBalanceOut("s", 5L, 3, 9.0 / 25.0, 25.0 / 9.0)),
        s"got $got")
    } finally q.stop()
  }

  test("vocabGiniExact: vocabulary map merges across micro-batches; rank identity exact") {
    import graft.streaming.EventStreams.{DocEvent, VocabGiniOut}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[DocEvent]
    val q = EventStreams.vocabGiniExact(input.toDS(), horizonSec = 10)
      .writeStream.format("memory").queryName("vgini").outputMode("append").start()
    try {
      input.addData(DocEvent("s", 1000000000L, Some("a b a")))
      q.processAllAvailable()
      // second batch extends b and adds c — counts must merge: a=2 b=2 c=1
      input.addData(DocEvent("s", 1001000000L, Some("b c")),
        DocEvent("s", 1002000000L, None)) // NULL text: watermark only
      q.processAllAvailable()
      input.addData(DocEvent("z", 9000000000L, Some("x")))
      q.processAllAvailable()
      input.addData(DocEvent("z", 9100000000L, Some("x")))
      q.processAllAvailable()
      val got = spark.table("vgini").as[VocabGiniOut].collect()
        .filter(_.key == "s").toSeq
      // ranked (c,1)(a,2)(b,2): num = (2−4)·1 + (4−4)·2 + (6−4)·2 = 2;
      // gini = 2 / (3·5)
      assert(got == Seq(VocabGiniOut("s", 3L, 5L, 2.0 / 15.0)), s"got $got")
    } finally q.stop()
  }

  test("tokenShiftExact: two-sided maps merge across batches; batch formula at close; " +
    "empty side emits nothing") {
    import graft.streaming.EventStreams.{DocSideEvent, TokenShiftOut}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[DocSideEvent]
    val q = EventStreams.tokenShiftExact(input.toDS(), k = 2, horizonSec = 10)
      .writeStream.format("memory").queryName("tshift").outputMode("append").start()
    try {
      input.addData(DocSideEvent("s", 1000000000L, "a", Some("x y x")),
        DocSideEvent("onesided", 1000000000L, "a", Some("q q")))
      q.processAllAvailable()
      // side b arrives in a LATER batch + side a extends: maps must merge
      input.addData(DocSideEvent("s", 1001000000L, "b", Some("x z")),
        DocSideEvent("s", 1002000000L, "a", Some("y")),
        DocSideEvent("s", 1003000000L, "a", None)) // sentinel: watermark only
      q.processAllAvailable()
      input.addData(DocSideEvent("w", 9000000000L, "a", Some("p")),
        DocSideEvent("w", 9000000001L, "b", Some("p")))
      q.processAllAvailable()
      input.addData(DocSideEvent("w", 9100000000L, "b", Some("p")))
      q.processAllAvailable()
      val got = spark.table("tshift").as[TokenShiftOut].collect()
      // key s: a = {x:2, y:2}, Na=4; b = {x:1, z:1}, Nb=2.
      //   num(x)=|2·2−1·4|=0, num(y)=|2·2−0|=4, num(z)=|0−1·4|=4
      //   → rank1 y (tie y<z), rank2 z; shift = 4/8 = 0.5
      val s = got.filter(_.key == "s").sortBy(_.rnk).toSeq
      assert(s == Seq(TokenShiftOut("s", 1, "y", 2L, 0L, "4", 0.5),
        TokenShiftOut("s", 2, "z", 0L, 1L, "4", 0.5)), s"got $s")
      // a key whose window closed with one side empty emits nothing
      assert(!got.exists(_.key == "onesided"), s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("tokenShiftExact ≡ batch tokenShift on seeded random corpora (values and ranks)") {
    import graft.streaming.EventStreams.{DocSideEvent, TokenShiftOut}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(421701L)
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    def doc() = Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val rows = (0 until 40).map { i =>
      DocSideEvent("k", 1000000000L + i * 1000000L,
        if (rnd.nextBoolean()) "a" else "b", Some(doc()))
    }
    val a = rows.filter(_.side == "a").map(r => Tuple1(r.text.get)).toDF("text")
    val b = rows.filter(_.side == "b").map(r => Tuple1(r.text.get)).toDF("text")
    val expect = graft.operators.CorpusOps.tokenShift(a, b, "text", k = 5)
      .select($"rnk", $"token", $"c_a", $"c_b", $"shift_num", $"shift")
      .as[(Int, String, Long, Long, String, Double)].collect().toSeq
    val input = MemoryStream[DocSideEvent]
    val q = EventStreams.tokenShiftExact(input.toDS(), k = 5, horizonSec = 10)
      .writeStream.format("memory").queryName("tshift_rand")
      .outputMode("append").start()
    try {
      // three micro-batches so both side maps merge across batch boundaries
      val (b1, rest) = rows.splitAt(13)
      val (b2, b3) = rest.splitAt(13)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      input.addData(DocSideEvent("close", 9000000000000L, "a", None))
      q.processAllAvailable()
      input.addData(DocSideEvent("close", 9100000000000L, "a", None))
      q.processAllAvailable()
      val got = spark.table("tshift_rand").as[TokenShiftOut].collect()
        .filter(_.key == "k").sortBy(_.rnk)
        .map(o => (o.rnk, o.token, o.cA, o.cB, o.shiftNum, o.shift)).toSeq
      assert(got == expect, s"stream $got\nbatch  $expect")
    } finally q.stop()
  }

  test("vocabRichnessExact: same count-map state, counting close; cross-batch merge") {
    import graft.streaming.EventStreams.{DocEvent, VocabRichnessOut}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[DocEvent]
    val q = EventStreams.vocabRichnessExact(input.toDS(), horizonSec = 10)
      .writeStream.format("memory").queryName("vrich").outputMode("append").start()
    try {
      input.addData(DocEvent("s", 1000000000L, Some("a b a")))
      q.processAllAvailable()
      input.addData(DocEvent("s", 1001000000L, Some("b c")))
      q.processAllAvailable()
      input.addData(DocEvent("z", 9000000000L, Some("x")))
      q.processAllAvailable()
      input.addData(DocEvent("z", 9100000000L, Some("x")))
      q.processAllAvailable()
      val got = spark.table("vrich").as[VocabRichnessOut].collect()
        .filter(_.key == "s").toSeq
      // merged counts a=2 b=2 c=1: T=5, m=3, hapax={c}, dis={a,b}
      assert(got == Seq(VocabRichnessOut("s", 5L, 3L, 1L, 2L,
        3.0 / 5.0, 1.0 / 3.0, 2.0 / 3.0)), s"got $got")
    } finally q.stop()
  }

  test("trimmedMeanExact/countingMedianExact: value count-map merges across batches") {
    import graft.streaming.EventStreams.{ValueEvent, TrimmedMeanOut, MedianOut}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val inT = MemoryStream[ValueEvent]
    val qT = EventStreams.trimmedMeanExact(inT.toDS(), trimNum = 1, trimDen = 5,
        unitScale = 0, horizonSec = 10)
      .writeStream.format("memory").queryName("st_trim").outputMode("append").start()
    val inM = MemoryStream[ValueEvent]
    val qM = EventStreams.countingMedianExact(inM.toDS(), unitScale = 0,
        horizonSec = 10)
      .writeStream.format("memory").queryName("st_med").outputMode("append").start()
    try {
      // 10 values 1..10 split across two micro-batches OUT OF ORDER:
      // trim 1/5 -> lo = 2, keep ranks [2, 8) = values 3..8, sum 33, mean 5.5
      // lower median = rank 5 -> value 5
      val ts = 1000000000L
      inT.addData((6 to 10).map(v => ValueEvent("s", ts, v.toLong)): _*)
      qT.processAllAvailable()
      inT.addData((1 to 5).map(v => ValueEvent("s", ts + 1000000L, v.toLong)): _*)
      qT.processAllAvailable()
      inT.addData(ValueEvent("z", 9000000000L, 0L)); qT.processAllAvailable()
      inT.addData(ValueEvent("z", 9100000000L, 0L)); qT.processAllAvailable()
      val gotT = spark.table("st_trim").as[TrimmedMeanOut].collect()
        .filter(_.key == "s").toSeq
      assert(gotT == Seq(TrimmedMeanOut("s", 10L, 6L, Some(33.0 / 6.0))),
        s"got $gotT")

      inM.addData((6 to 10).map(v => ValueEvent("m", ts, v.toLong)): _*)
      qM.processAllAvailable()
      inM.addData((1 to 5).map(v => ValueEvent("m", ts + 1000000L, v.toLong)): _*)
      qM.processAllAvailable()
      inM.addData(ValueEvent("z", 9000000000L, 0L)); qM.processAllAvailable()
      inM.addData(ValueEvent("z", 9100000000L, 0L)); qM.processAllAvailable()
      val gotM = spark.table("st_med").as[MedianOut].collect()
        .filter(_.key == "m").toSeq
      assert(gotM == Seq(MedianOut("m", 10L, 5.0)), s"got $gotM")
    } finally { qT.stop(); qM.stop() }
  }

  test("streaming funnel: a late early view legitimizes an already-seen click") {
    // THE case that rules out O(1) incremental folding: batch 1 delivers a
    // click at ts=200 with no prior view (an incremental fold would reject
    // it forever); batch 2 delivers the view at ts=100 late-but-in-
    // watermark. The exact fold over the buffer must complete view(100) →
    // click(200) → purchase(300).
    import graft.streaming.EventStreams.{FunnelEvent, FunnelOut}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val q = EventStreams.funnelExact(input.toDS(), numSteps = 3,
      horizonSec = 1, lateSec = 250) // disorder tolerance > the 200s lateness
      .writeStream.format("memory").queryName("funnel_ooo")
      .outputMode("append").start()
    try {
      input.addData(
        FunnelEvent(1L, 200000000L, 1L, 1),  // click first (µs)
        FunnelEvent(1L, 300000000L, 2L, 2))  // purchase
      q.processAllAvailable()
      input.addData(FunnelEvent(1L, 100000000L, 3L, 0)) // the late view
      q.processAllAvailable()
      // push the watermark past user 1's deadline from another key
      input.addData(FunnelEvent(9L, 900000000L, 4L, 0))
      q.processAllAvailable()
      input.addData(FunnelEvent(9L, 950000000L, 5L, 0))
      q.processAllAvailable()
      val got = spark.table("funnel_ooo").as[FunnelOut].collect().toSeq
      assert(got == Seq(FunnelOut(1L,
        Seq(Some(100000000L), Some(200000000L), Some(300000000L)), 3)),
        s"got $got")
    } finally q.stop()
  }

  test("streaming CDC materialization: last-write-wins across batches, deletes drop, revival works") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long, String, String)]
    val src = input.toDF().toDF("tsm", "key", "ord", "op", "v")
      .withWatermark("tsm", "0 seconds")
      // no op-filter: null-op rows are watermark carriers (a filter here
      // would be pushed below the watermark node — cdcMaterialize scaladoc)
      .select($"key", $"ord", $"op",
        when($"op".isNotNull, struct($"key", $"v")).as("payload"),
        $"tsm".cast("long").as("epochSec"), $"tsm")
      .as[EventStreams.CdcEvent[(Long, String)]]
    val q = EventStreams.cdcMaterialize(src, horizonSec = 60L)
      .writeStream.format("memory").queryName("cdc_test").outputMode("append").start()
    try {
      // Batch 1: upserts for keys 1, 2, 3 (+ an out-of-order ord for 1).
      input.addData(
        (ts("2025-01-01 00:00:01"), 1L, 10L, "u", "one_a"),
        (ts("2025-01-01 00:00:02"), 2L, 10L, "u", "two_a"),
        (ts("2025-01-01 00:00:03"), 3L, 10L, "u", "three"))
      q.processAllAvailable()
      // Batch 2: key 1 updated (higher ord), key 2 deleted, key 3 receives
      // a LOWER-ord straggler that must NOT override, key 4 delete-then-
      // revive in one batch (ord decides).
      input.addData(
        (ts("2025-01-01 00:00:11"), 1L, 20L, "u", "one_b"),
        (ts("2025-01-01 00:00:12"), 2L, 20L, "d", "two_b"),
        (ts("2025-01-01 00:00:13"), 3L, 5L, "u", "stale"),
        (ts("2025-01-01 00:00:14"), 4L, 10L, "d", "dead"),
        (ts("2025-01-01 00:00:15"), 4L, 20L, "u", "revived"))
      q.processAllAvailable()
      // Null-op sentinels advance the watermark past every deadline.
      input.addData((ts("2025-01-01 06:00:00"), -1L, 0L, null, null))
      q.processAllAvailable()
      input.addData((ts("2025-01-02 06:00:00"), -1L, 0L, null, null))
      q.processAllAvailable()
      val out = spark.table("cdc_test").as[(Long, String)].collect().toMap
      assert(out === Map(1L -> "one_b", 3L -> "three", 4L -> "revived"),
        s"got $out")
    } finally q.stop()
  }

  test("streaming MG candidates: bounded per-shard state, every true heavy hitter survives") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col}
    implicit val sq = spark.sqlContext
    val capacity = 3
    // 40 distinct noise items (vocab ≫ capacity, so eviction genuinely
    // runs) + two hot items crossing a micro-batch boundary.
    val noise = (1 to 40).map(i => s"n$i")
    val batch1 = Seq.fill(10)("hot") ++ noise.take(20)
    val batch2 = Seq.fill(8)("warm") ++ noise.drop(20) ++ Seq.fill(5)("hot")
    val input = MemoryStream[(Timestamp, String)]
    val q = EventStreams.mgCandidatesStream(
        input.toDF().toDF("tsm", "item"), array(col("item")), "tsm",
        capacity = capacity, nShards = 2, horizonSec = 60L)
      .writeStream.format("memory").queryName("mg_test").outputMode("append").start()
    try {
      input.addData(batch1.zipWithIndex.map { case (it, i) =>
        (ts(f"2025-01-01 00:00:${i % 50}%02d"), it) }: _*)
      q.processAllAvailable()
      input.addData(batch2.zipWithIndex.map { case (it, i) =>
        (ts(f"2025-01-01 00:01:${i % 50}%02d"), it) }: _*)
      q.processAllAvailable()
      // NULL-item sentinels (the doc replay's protocol): they advance the
      // watermark through the pre-filter node but never enter a shard — a
      // data-bearing key is invoked with hasTimedOut=false and would
      // re-arm its deadline instead of emitting.
      input.addData((ts("2025-01-01 12:00:00"), null))
      q.processAllAvailable()
      input.addData((ts("2025-01-02 12:00:00"), null))
      q.processAllAvailable()
      val out = spark.table("mg_test")
        .as[(Int, String, Long)].collect()
      val perShard = out.groupBy(_._1).view.mapValues(_.length)
      assert(perShard.values.forall(_ <= capacity),
        s"shard emitted more than capacity entries: $perShard")
      val cands = out.map(_._2).toSet
      // hot: 15/88 total > 88/(3+1) per its shard? The MG guarantee is
      // per-shard: hot's 15 occurrences sit in one shard whose total is at
      // most 88, so 15 > shardTotal/4 unless the shard held > 60 items —
      // it cannot (≤ 40 noise + hot + warm rows route across 2 shards).
      assert(cands.contains("hot"), s"true heavy hitter evicted: $cands")
    } finally q.stop()
  }

  test("streaming SRP near-dup: identical-vector twins pair cross-batch; degenerate vectors never enter") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val rng = new scala.util.Random(7)
    def vec() = Seq.fill(64)(rng.nextFloat() * 2 - 1)
    val v1 = vec(); val v2 = vec()
    val input = MemoryStream[(Timestamp, Long, Seq[Float])]
    val q = EventStreams.srpNearDup(
        input.toDF().toDF("tsm", "vec_id", "embedding"), "vec_id", "embedding", "tsm",
        dim = 64, horizonSec = 1000000L)
      .writeStream.format("memory").queryName("srp_test").outputMode("append").start()
    try {
      input.addData(
        (ts("2025-01-01 00:00:01"), 1L, v1),
        (ts("2025-01-01 00:00:02"), 2L, v2),
        (ts("2025-01-01 00:00:03"), 90L, Seq.fill(64)(0.0f))) // degenerate: null sig
      q.processAllAvailable()
      // Identical twin of v1 arrives in batch 2 — the pair can only come
      // from bucket state; a second degenerate vector must not pair with
      // the first (they'd share every all-zero band otherwise).
      input.addData(
        (ts("2025-01-01 00:00:04"), 3L, v1),
        (ts("2025-01-01 00:00:05"), 91L, Seq.fill(64)(0.0f)))
      q.processAllAvailable()
      val got = spark.table("srp_test").distinct()
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.operators.VectorOps.srpNearDupPairs(
        Seq((1L, v1), (2L, v2), (3L, v1), (90L, Seq.fill(64)(0.0f)), (91L, Seq.fill(64)(0.0f)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim = 64)
        .select(col("vec_i"), col("vec_j"), col("hamming"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got === batch, s"stream $got != batch $batch")
      assert(got.contains((1L, 3L, 0L)))
      assert(!got.exists(p => p._1 == 90L || p._2 == 91L), "degenerates must not pair")
    } finally q.stop()
  }

  test("streaming near-dup: cross-batch pairs equal the batch operator; re-delivery is ignored") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "utterly different vocabulary nothing shared whatsoever"
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.simhashNearDup(
        input.toDF().toDF("tsm", "doc_id", "text"), "doc_id", "text", "tsm",
        horizonSec = 1000000L)
      .writeStream.format("memory").queryName("nd_test").outputMode("append").start()
    try {
      input.addData(
        (ts("2025-01-01 00:00:01"), 1L, a),
        (ts("2025-01-01 00:00:02"), 2L, b))
      q.processAllAvailable()
      // doc 3 duplicates doc 1 ACROSS the batch boundary — the pair can only
      // come from bucket state; doc 1 is also re-delivered (at-least-once)
      // and must not re-pair.
      input.addData(
        (ts("2025-01-01 00:00:03"), 3L, a),
        (ts("2025-01-01 00:00:01"), 1L, a))
      q.processAllAvailable()
      val got = spark.table("nd_test").distinct()
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.operators.SimHash.nearDupPairs(
        Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text"), "doc_id", "text",
        bits = 60, bandBits = 15, maxHamming = 3)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === batch, s"stream $got != batch $batch")
      assert(got.contains((1L, 3L, 0L)), "identical docs must pair at Hamming 0")
    } finally q.stop()
  }

  test("streaming near-dup: null-text sentinels alone advance the watermark") {
    // The degenerate-text filter must sit ABOVE the EventTimeWatermark node
    // (anchored conjuncts — r13 ADVICE): a sentinel-only batch advances the
    // watermark, so a doc whose horizon has passed is evicted even though
    // no non-degenerate row arrived in between. If any filter conjunct were
    // pushed below the watermark node, the sentinel would be dropped before
    // the watermark exec, doc 1 would survive, and (1, 3) would pair.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val a = "alpha beta gamma delta epsilon zeta"
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.simhashNearDup(
        input.toDF().toDF("tsm", "doc_id", "text"), "doc_id", "text", "tsm",
        horizonSec = 100L)
      .writeStream.format("memory").queryName("nd_sentinel").outputMode("append").start()
    def pairs = spark.table("nd_sentinel").distinct().as[(Long, Long, Long)].collect().toSet
    try {
      input.addData((ts("2025-01-01 00:00:00"), 1L, a))
      q.processAllAvailable()
      input.addData((ts("2025-01-01 06:00:00"), 99L, null)) // watermark carrier only
      q.processAllAvailable()
      input.addData((ts("2025-01-01 06:00:10"), 3L, a))
      q.processAllAvailable()
      assert(pairs === Set.empty[(Long, Long, Long)],
        s"sentinel failed to advance the watermark — stale doc paired: $pairs")
      input.addData((ts("2025-01-01 06:00:20"), 4L, a))
      q.processAllAvailable()
      assert(pairs === Set((3L, 4L, 0L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming SRP near-dup: null-vector sentinels alone advance the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rng = new scala.util.Random(11)
    val v1 = Seq.fill(64)(rng.nextFloat() * 2 - 1)
    val input = MemoryStream[(Timestamp, Long, Seq[Float])]
    val q = EventStreams.srpNearDup(
        input.toDF().toDF("tsm", "vec_id", "embedding"), "vec_id", "embedding", "tsm",
        dim = 64, horizonSec = 100L)
      .writeStream.format("memory").queryName("srp_sentinel").outputMode("append").start()
    def pairs = spark.table("srp_sentinel").distinct().as[(Long, Long, Long)].collect().toSet
    try {
      input.addData((ts("2025-01-01 00:00:00"), 1L, v1))
      q.processAllAvailable()
      input.addData((ts("2025-01-01 06:00:00"), 99L, null)) // watermark carrier only
      q.processAllAvailable()
      input.addData((ts("2025-01-01 06:00:10"), 3L, v1))
      q.processAllAvailable()
      assert(pairs === Set.empty[(Long, Long, Long)],
        s"sentinel failed to advance the watermark — stale vec paired: $pairs")
      input.addData((ts("2025-01-01 06:00:20"), 4L, v1))
      q.processAllAvailable()
      assert(pairs === Set((3L, 4L, 0L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming near-dup horizon: watermark-evicted docs stop pairing, state shrinks") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val a = "alpha beta gamma delta epsilon zeta"
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.simhashNearDup(
        input.toDF().toDF("tsm", "doc_id", "text"), "doc_id", "text", "tsm",
        horizonSec = 100L)
      .writeStream.format("memory").queryName("nd_evict").outputMode("append").start()
    def pairs = spark.table("nd_evict").distinct().as[(Long, Long, Long)].collect().toSet
    try {
      input.addData((ts("2025-01-01 00:00:00"), 1L, a))
      q.processAllAvailable()
      // Advance the watermark far past doc 1's ts + horizon (unrelated text
      // so no accidental pair).
      input.addData((ts("2025-01-01 06:00:00"), 99L,
        "utterly different vocabulary nothing shared whatsoever"))
      q.processAllAvailable()
      // Same text as doc 1, but > horizon later and behind an advanced
      // watermark: doc 1's bucket entries are evicted — no (1, 3) pair.
      input.addData((ts("2025-01-01 06:00:10"), 3L, a))
      q.processAllAvailable()
      assert(pairs === Set.empty[(Long, Long, Long)], s"evicted doc must not pair: $pairs")
      // A within-horizon twin still pairs.
      input.addData((ts("2025-01-01 06:00:20"), 4L, a))
      q.processAllAvailable()
      assert(pairs === Set((3L, 4L, 0L)), s"got $pairs")
    } finally q.stop()
  }

  test("cusumExact: out-of-order in-watermark delivery folds in ts order; state evicts") {
    // v (e4) = 3, 10, 1 at ts 1s/2s/3s, ref 2, h 5 → s: 1, 9, 8 → 2
    // alarms. Delivered OUT OF ORDER across two batches — the buffered
    // fold must still process in (ts, tie) order (an incremental O(1)
    // fold would see 10 first and answer differently); the key's state is
    // evicted after its horizon.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.EventStreams.CusumEvent
    val input = MemoryStream[CusumEvent]
    // lateSec = 10 keeps the ts = 1 s arrival ABOVE the watermark after
    // the 3 s batch (3 − 10 < 1): genuinely in-watermark disorder. With
    // lateSec = 0 the same arrival is below the watermark and dropped at
    // the source (measured: n = 2, final = 7) — the documented trade.
    val q = EventStreams.cusumExact(input.toDS(), refValueE4 = 2L,
        thresholdE4 = 5L, horizonSec = 100L, lateSec = 10L)
      .writeStream.format("memory").queryName("cusum_sink")
      .outputMode("append").start()
    try {
      input.addData(CusumEvent(1L, 2000000L, 2L, 10L), CusumEvent(1L, 3000000L, 3L, 1L))
      q.processAllAvailable()
      input.addData(CusumEvent(1L, 1000000L, 1L, 3L)) // late but in-watermark
      q.processAllAvailable()
      // advance the watermark past the horizon, then a data batch fires
      // the timeout (emission needs a following batch).
      input.addData(CusumEvent(9L, 500000000L, 0L, 0L))
      q.processAllAvailable()
      input.addData(CusumEvent(8L, 600000000L, 0L, 0L))
      q.processAllAvailable()
      val out = spark.table("cusum_sink").filter($"key" === 1L)
        .as[(Long, Int, Long, Long)].collect()
      assert(out.toSeq === Seq((1L, 3, 8L, 2L)), s"got ${out.toSeq}")
      assert(q.lastProgress.stateOperators(0).numRowsTotal <= 2,
        "closed key's buffer must be evicted")
    } finally q.stop()
  }

  test("budgetAdmitExact: prefix rule in ts order, disorder-proof, state evicts") {
    // v = 6, 7, 2 at ts 1s/2s/3s with budget 10: the PREFIX rule admits
    // only the 6 (cum 6, 13, 15) — a greedy skip-and-continue would admit
    // 6 and 2; out-of-order delivery of the 6 must not change the answer.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.EventStreams.BudgetEvent
    val input = MemoryStream[BudgetEvent]
    val q = EventStreams.budgetAdmitExact(input.toDS(), budget = 10L,
        horizonSec = 100L, lateSec = 10L)
      .writeStream.format("memory").queryName("budget_sink")
      .outputMode("append").start()
    try {
      input.addData(BudgetEvent("a", 2000000L, 2L, 7L), BudgetEvent("a", 3000000L, 3L, 2L))
      q.processAllAvailable()
      input.addData(BudgetEvent("a", 1000000L, 1L, 6L)) // late but in-watermark
      q.processAllAvailable()
      input.addData(BudgetEvent("zz", 500000000L, 0L, 0L))
      q.processAllAvailable()
      input.addData(BudgetEvent("zy", 600000000L, 0L, 0L))
      q.processAllAvailable()
      val out = spark.table("budget_sink").filter($"key" === "a")
        .as[(String, Int, Long, Long)].collect()
      assert(out.toSeq === Seq(("a", 3, 1L, 6L)), s"got ${out.toSeq}")
      assert(q.lastProgress.stateOperators(0).numRowsTotal <= 2,
        "closed key's buffer must be evicted")
    } finally q.stop()
  }

  test("acfExact: disorder-proof timeout fold matches the batch operator bit-exactly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.EventStreams.BudgetEvent
    import graft.operators.TimeSeriesOps
    val rnd = new scala.util.Random(1212)
    val vals = Seq.tabulate(40)(i => (i.toLong, (rnd.nextInt(400) - 200).toLong))
    val input = MemoryStream[BudgetEvent]
    val q = EventStreams.acfExact(input.toDS(), horizonSec = 100L, lateSec = 200L)
      .writeStream.format("memory").queryName("acf_sink")
      .outputMode("append").start()
    try {
      // deliver shuffled (in-watermark disorder), two batches
      val shuffled = rnd.shuffle(vals)
      val (b1, b2) = shuffled.splitAt(20)
      input.addData(b1.map { case (i, v) => BudgetEvent("a", (i + 1) * 1000000L, i, v) }: _*)
      q.processAllAvailable()
      input.addData(b2.map { case (i, v) => BudgetEvent("a", (i + 1) * 1000000L, i, v) }: _*)
      q.processAllAvailable()
      input.addData(BudgetEvent("zz", 500000000L, 0L, 0L))
      q.processAllAvailable()
      input.addData(BudgetEvent("zy", 600000000L, 0L, 0L))
      q.processAllAvailable()
      val got = spark.table("acf_sink").filter($"key" === "a")
        .as[(String, Int, Option[Double], Option[Double], Option[Double])].head()
      // batch twin on the same series (value = v / 10000 re-quantizes to v)
      val batch = TimeSeriesOps.acf(
        vals.map { case (i, v) => ("a", i, i, v.toDouble / 10000.0) }
          .toDF("k", "o", "t", "v"),
        Seq("k"), org.apache.spark.sql.functions.col("o"),
        Seq(org.apache.spark.sql.functions.col("t")),
        org.apache.spark.sql.functions.col("v"), maxLag = 3)
        .select($"n", $"r1", $"r2", $"r3")
        .as[(Long, Option[Double], Option[Double], Option[Double])].head()
      assert(got == (("a", batch._1.toInt, batch._2, batch._3, batch._4)))
    } finally q.stop()
  }

  test("fanoExact: order-free windowed-count state matches the batch operator; state is O(windows)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.EventStreams.BudgetEvent
    import graft.operators.TimeSeriesOps
    val rnd = new scala.util.Random(4040)
    // 120 events over ~6 windows of 10 s, heavy clumping, DUPLICATE ts
    // values on purpose (the count-map state must be tie-proof). Offset
    // by an hour: epoch-0 event times EQUAL the query's initial watermark
    // and Spark's stateful late-filter drops them — a boundary artifact
    // of synthetic data, not of the operator (real fixtures live decades
    // past epoch 0); measured here before the offset was added.
    val ts = Seq.tabulate(120)(i =>
      (3600L + (if (i < 80) rnd.nextInt(15) else 20 + rnd.nextInt(40)))
        * 1000000L)
    val input = MemoryStream[BudgetEvent]
    val q = EventStreams.fanoExact(input.toDS(), windowSec = 10L,
        horizonSec = 100L, lateSec = 200L)
      .writeStream.format("memory").queryName("fano_sink")
      .outputMode("append").start()
    try {
      val shuffled = rnd.shuffle(ts.zipWithIndex)
      input.addData(shuffled.map { case (t, i) => BudgetEvent("a", t, i.toLong, 0L) }: _*)
      q.processAllAvailable()
      // state after ingest: one row per KEY whose payload is the window
      // map — numRowsTotal counts keys, bounded regardless of 120 events
      assert(q.lastProgress.stateOperators(0).numRowsTotal <= 1)
      input.addData(BudgetEvent("zz", 50000000000L, 0L, 0L))
      q.processAllAvailable()
      input.addData(BudgetEvent("zy", 60000000000L, 0L, 0L))
      q.processAllAvailable()
      val got = spark.table("fano_sink").filter($"key" === "a")
        .as[(String, Int, Long, Option[Double])].head()
      val batch = TimeSeriesOps.fanoFactor(
        ts.map(t => ("a", t)).toDF("k", "ts"), Seq("k"),
        org.apache.spark.sql.functions.col("ts"), 10L)
        .select($"n_windows", $"n_events", $"fano")
        .as[(Long, Long, Double)].head()
      assert(got == (("a", batch._1.toInt, batch._2, Some(batch._3))))
    } finally q.stop()
  }

  test("budgetAdmitExact: exact-budget boundary admits; zero-value events admit free") {
    // cum: 4, 10 (== budget, admits), 11 (stops); a trailing 0-cost event
    // is NOT re-admitted — the prefix is closed once tripped.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.EventStreams.BudgetEvent
    val input = MemoryStream[BudgetEvent]
    val q = EventStreams.budgetAdmitExact(input.toDS(), budget = 10L,
        horizonSec = 50L)
      .writeStream.format("memory").queryName("budget_sink2")
      .outputMode("append").start()
    try {
      input.addData(
        BudgetEvent("b", 1000000L, 1L, 4L), BudgetEvent("b", 2000000L, 2L, 6L),
        BudgetEvent("b", 3000000L, 3L, 1L), BudgetEvent("b", 4000000L, 4L, 0L))
      q.processAllAvailable()
      input.addData(BudgetEvent("zz", 500000000L, 0L, 0L))
      q.processAllAvailable()
      input.addData(BudgetEvent("zy", 600000000L, 0L, 0L))
      q.processAllAvailable()
      val out = spark.table("budget_sink2").filter($"key" === "b")
        .as[(String, Int, Long, Long)].collect()
      assert(out.toSeq === Seq(("b", 4, 2L, 10L)), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("valueCountsExact: seeded random micro-batch slicing lands on the " +
    "batch count map (the mergeability all nine FromCounts monitors use)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(5151)
    val baseUs = ts("2025-03-01 00:00:00").getTime * 1000L
    // 400 events over 7 keys × 10 values, event times scattered over 2 h —
    // the count map must be a pure function of the multiset, whatever the
    // batch slicing. lateSec = 1 day ≥ the span, so no slice drops rows.
    val events = Seq.tabulate(400) { _ =>
      EventStreams.ValueEvent(s"k${rnd.nextInt(7)}",
        baseUs + rnd.nextInt(7200) * 1000000L, rnd.nextInt(10).toLong)
    }
    val input = MemoryStream[EventStreams.ValueEvent]
    val q = EventStreams
      .valueCountsExact(input.toDS(), horizonSec = 3600L, lateSec = 86400L)
      .writeStream.format("memory").queryName("vce_slices")
      .outputMode("append").start()
    try {
      // Random chunking: 6 slices of uneven sizes, arbitrary event order.
      val shuffled = rnd.shuffle(events)
      val cuts = (Seq(0, 400) ++ Seq.fill(5)(rnd.nextInt(399) + 1))
        .distinct.sorted
      cuts.sliding(2).foreach { case Seq(a, b) =>
        input.addData(shuffled.slice(a, b)); q.processAllAvailable()
      }
      // Two far-future sentinels: watermark must pass every deadline AND a
      // data batch must follow the advance for the timeouts to fire.
      val far = baseUs + 10L * 86400 * 1000000L
      input.addData(EventStreams.ValueEvent("sentinel", far, 0L))
      q.processAllAvailable()
      input.addData(EventStreams.ValueEvent("sentinel", far + 1000000L, 0L))
      q.processAllAvailable()
      val got = spark.table("vce_slices").filter($"key" =!= "sentinel")
        .as[(String, Long, Long)].collect().toSet
      val want = events.groupBy(e => (e.key, e.v))
        .map { case ((k, v), es) => (k, v, es.size.toLong) }.toSet
      assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    } finally q.stop()
  }

  test("convention guard: only closeAtHorizon and the three documented exceptions " +
    "run the keyed-state protocol in EventStreams") {
    val file = Paths.get("src/main/scala/graft/streaming/EventStreams.scala")
    assert(Files.isRegularFile(file), s"run from the repository root: $file")
    val allowed = Set("closeAtHorizon", "sessionize", "cdcMaterialize", "nearDupBandedStream")
    val member = """^  (?:private )?def (\w+)""".r
    val call = "flatMapGroupsWithState|setTimeoutTimestamp".r
    var owner = ""
    val hits = Files.readAllLines(file).asScala.zipWithIndex.flatMap { case (line, i) =>
      member.findFirstMatchIn(line).foreach(m => owner = m.group(1))
      val code = line.trim
      val comment = code.startsWith("*") || code.startsWith("/*") || code.startsWith("//")
      if (!comment && call.findFirstIn(code).isDefined) Some((owner, s"$file:${i + 1}: $code"))
      else None
    }
    val offenders = hits.collect { case (o, at) if !allowed(o) => s"$at (in $o)" }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    assert(hits.map(_._1).toSet === allowed, "every allowed member runs the protocol")
  }
}
