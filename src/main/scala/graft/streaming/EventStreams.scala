package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{HashSampleBuffer, KmvBuffer, MgBuffer, SketchBuffer, SketchCodec}

/** Structured Streaming twins of the batch event operators
  * ([[graft.queries.EventQueries]] `q_event_windows` / `q_sessionize`):
  * same logical aggregation, expressed over an unbounded source with
  * watermark-driven state eviction. A `readStream` source slots in wherever
  * the batch queries use `spark.read` — the transformations are identical.
  *
  * The keyed-state operators that emit once per key when its event-time
  * horizon closes all run through one protocol, [[closeAtHorizon]]; each
  * supplies only its key, event time, zero state, fold and close. The
  * three sketch twins hold their batch aggregate's encoded buffer as that
  * state ([[sketchAtHorizon]]).
  */
object EventStreams {

  /** Watermarked tumbling-window aggregation — the streaming twin of
    * `q_event_windows`. Input needs an event-time column `tsm` (TIMESTAMP),
    * `event_type`, `user_id`, `value`. Late rows beyond `watermark` are
    * dropped and their windows finalized (emitted once in append mode).
    *
    * One deliberate divergence from the batch query: streaming cannot hold
    * exact per-window distinct-user sets without unbounded state, so this
    * twin reports `approx_count_distinct` (HLL) — the standard trade at
    * 100 TB/day event volumes.
    */
  def hourlyEventWindows(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("tsm", watermark)
      .groupBy(window(col("tsm"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct("user_id").as("n_users_approx"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("n_users_approx"), col("total_value"))

  /** Streaming exact dedup — the at-least-once → effectively-once repair
    * for event pipelines: duplicate deliveries of the same key within the
    * watermark horizon are dropped (first arrival wins and is emitted
    * IMMEDIATELY in append mode — unlike windowed aggregates there is no
    * close to wait for), and a key's state is evicted once the watermark
    * passes its event time plus the delay, so state is bounded by
    * keys-per-horizon, not stream history. The trade every bounded-state
    * dedup makes: a duplicate arriving after its key's state was evicted
    * re-emits (pinned in EventStreamsSpec). Batch twin: DISTINCT on the
    * key. Input needs the event-time column `tsm` (TIMESTAMP).
    */
  def dedupEvents(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame = {
    require(keyCols.nonEmpty, "dedup needs at least one key column")
    events.withWatermark("tsm", watermark)
      .dropDuplicatesWithinWatermark(keyCols)
  }

  /** Input row for [[sessionize]] (epoch seconds, already event-timed). */
  final case class SessionEvent(userId: Long, epochSec: Long, isPurchase: Boolean, value: Double)

  /** One closed session — the streaming twin of `q_sessionize`'s output row. */
  final case class SessionOut(
      userId: Long, startEpoch: Long, endEpoch: Long,
      nEvents: Long, nPurchases: Long, totalValue: Double)

  /** An out-of-order (straggler) session chain carried in state until its
    * watermark deadline passes — see [[sessionize]]'s straggler contract.
    */
  final case class StragglerChain(
      startEpoch: Long, endEpoch: Long, nEvents: Long, nPurchases: Long, totalValue: Double)

  /** Keyed state carried between micro-batches (public: encoders codegen
    * against its accessors). `straggler` is the one pending out-of-order
    * chain from BEFORE the open session's period.
    */
  final case class SessionState(
      startEpoch: Long, endEpoch: Long, nEvents: Long, nPurchases: Long, totalValue: Double,
      straggler: Option[StragglerChain] = None)

  /** Gap-based sessionization with explicit keyed state
    * (`flatMapGroupsWithState` + event-time timeout): events for a user
    * extend the open session while gaps stay within `gapSec`; a larger gap
    * closes and emits it inline, and a session idle past the gap closes when
    * the WATERMARK passes its deadline (event-time, not processing-time —
    * a processing-time timeout would spin empty micro-batches forever on an
    * idle stream). State per user is O(1) (two five-counter chains: the
    * open session plus at most one pending out-of-order chain), so executor
    * memory is bounded by active-user cardinality, not event volume.
    *
    * Out-of-order contract: an in-watermark event older than the open
    * session's period by more than the gap folds into a pending chain that
    * is carried ACROSS micro-batches until the watermark passes its
    * deadline (or it bridges into the open session) — batch-equivalent
    * output even when such a chain spans two micro-batches. The single
    * corner that can still split vs the batch twin is TWO simultaneous
    * pending chains for one user (disorder deeper than one gap-separated
    * chain), where the earlier chain is emitted immediately.
    *
    * Not a [[closeAtHorizon]] operator: it emits inline when a gap closes a
    * session, and its deadline comes from the session's end, not the
    * latest event.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapSec: Long,
      watermarkDelaySec: Long = 0L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_time", timestamp_seconds(col("epochSec")))
      .withWatermark("event_time", s"$watermarkDelaySec seconds")
      .as[SessionEvent]
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val closed = state.getOption.toSeq.flatMap { s =>
              s.straggler.map(p => SessionOut(userId, p.startEpoch, p.endEpoch,
                p.nEvents, p.nPurchases, p.totalValue)).toSeq :+
                SessionOut(userId, s.startEpoch, s.endEpoch,
                  s.nEvents, s.nPurchases, s.totalValue)
            }
            state.remove()
            closed.iterator
          } else {
            val out = Seq.newBuilder[SessionOut]
            val prev = state.getOption
            // Within a micro-batch events may arrive unsorted; order before
            // folding so gap detection matches the batch operator.
            var cur = prev.map(s => StragglerChain(
              s.startEpoch, s.endEpoch, s.nEvents, s.nPurchases, s.totalValue))
            // Stragglers from BEFORE the open session's period (late by more
            // than the gap) cannot join it — absorbing one would drag the
            // session start across a real gap. They fold into their own
            // chain, CARRIED IN KEYED STATE across micro-batches (closing
            // at batch end would split an in-watermark session spanning two
            // batches that the batch operator merges) and
            // emitted only when the watermark passes the chain's deadline.
            // One slot is carried; the corner where disorder sustains TWO
            // simultaneous pending chains emits the earlier at once — the
            // one remaining (documented) divergence from the batch twin.
            var straggler = prev.flatMap(_.straggler)
            def emit(p: StragglerChain): Unit = out += SessionOut(
              userId, p.startEpoch, p.endEpoch, p.nEvents, p.nPurchases, p.totalValue)
            def one(e: SessionEvent) = StragglerChain(
              e.epochSec, e.epochSec, 1, if (e.isPurchase) 1 else 0, e.value)
            rows.toSeq.sortBy(e => (e.epochSec, e.isPurchase, e.value)).foreach { e =>
              cur match {
                case Some(s) if e.epochSec < s.startEpoch - gapSec =>
                  straggler match {
                    case Some(st) if e.epochSec >= st.startEpoch - gapSec &&
                        e.epochSec <= st.endEpoch + gapSec =>
                      // Two-sided test: a carried chain can receive a yet-
                      // EARLIER in-gap event from a later micro-batch.
                      straggler = Some(StragglerChain(
                        math.min(st.startEpoch, e.epochSec),
                        math.max(st.endEpoch, e.epochSec), st.nEvents + 1,
                        st.nPurchases + (if (e.isPurchase) 1 else 0),
                        st.totalValue + e.value))
                    case Some(st) =>
                      // Second simultaneous chain: keep the later (still the
                      // likelier to bridge toward the open session), emit
                      // the earlier immediately.
                      val fresh = one(e)
                      if (st.endEpoch <= fresh.endEpoch) { emit(st); straggler = Some(fresh) }
                      else emit(fresh)
                    case None =>
                      straggler = Some(one(e))
                  }
                case Some(s) if e.epochSec - s.endEpoch <= gapSec =>
                  // min/max, not assignment: with watermarkDelaySec > 0 a
                  // later micro-batch can legally deliver an event EARLIER
                  // than the session's current end; overwriting endEpoch
                  // would move the session end backwards and corrupt the
                  // next gap test (in-batch events are sorted, cross-batch
                  // ones are not).
                  cur = Some(StragglerChain(
                    math.min(s.startEpoch, e.epochSec), math.max(s.endEpoch, e.epochSec),
                    s.nEvents + 1,
                    s.nPurchases + (if (e.isPurchase) 1 else 0), s.totalValue + e.value))
                case Some(s) =>
                  emit(s)
                  cur = Some(one(e))
                case None =>
                  cur = Some(one(e))
              }
            }
            // Bridge: events this batch may have extended the open session
            // back to within the gap of the pending chain — the batch
            // operator would see one session, so merge them.
            (straggler, cur) match {
              case (Some(st), Some(s)) if s.startEpoch - st.endEpoch <= gapSec =>
                cur = Some(StragglerChain(
                  math.min(st.startEpoch, s.startEpoch),
                  math.max(st.endEpoch, s.endEpoch),
                  st.nEvents + s.nEvents, st.nPurchases + s.nPurchases,
                  st.totalValue + s.totalValue))
                straggler = None
              case _ => ()
            }
            // A pending chain whose deadline the watermark has passed is
            // FINAL: any event that could still merge into it would be
            // dropped by the watermark before reaching this operator.
            straggler.foreach { st =>
              if (state.getCurrentWatermarkMs() > (st.endEpoch + gapSec) * 1000L) {
                emit(st)
                straggler = None
              }
            }
            cur.foreach { s =>
              state.update(SessionState(
                s.startEpoch, s.endEpoch, s.nEvents, s.nPurchases, s.totalValue, straggler))
              // Close when the watermark passes end-of-session + gap (the
              // deadline must sit strictly above the current watermark).
              // The pending chain is strictly earlier, so its deadline is
              // covered by the session's.
              state.setTimeoutTimestamp(math.max(
                (s.endEpoch + gapSec) * 1000L + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Keyed state of every [[closeAtHorizon]] operator: the operator's own
    * state `S` plus the running-max emission deadline (public: encoders
    * codegen against its accessors).
    */
  final case class Horizon[S](state: S, deadlineMs: Long)

  /** The event-time step of every operator whose input carries µs `ts`:
    * `event_time` from `ts`, watermarked `lateSec` behind. Disorder deeper
    * than `lateSec` is dropped at the source — the trade every watermarked
    * operator makes.
    */
  private def microsWatermark[E: Encoder](events: Dataset[E], lateSec: Long): Dataset[E] =
    events
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", s"$lateSec seconds")
      .as[E]

  /** The keyed-state protocol of every horizon-close operator: group the
    * (already watermarked) `events` by `key`, `fold` each micro-batch's rows
    * into the key's state (starting from `zero`) and emit nothing; once the
    * watermark passes the key's deadline — its latest event time plus
    * `horizonSec` — `close` the state into output rows and drop it. The
    * timeout is event-time, not processing-time: a processing-time timeout
    * would spin empty micro-batches forever on an idle stream.
    *
    * The deadline is a RUNNING MAX across micro-batches,
    * `max(prev, maxEventMs + horizonSec·1000 + 1)`. A deadline taken from
    * the current batch alone would SHRINK when a later micro-batch delivers
    * older (still-in-watermark) events, letting the key time out early; a
    * further in-watermark arrival would then open a second group and emit a
    * duplicate row for the key. The timeout is armed strictly above the
    * current watermark.
    *
    * `fold` must consume every row it is given: the helper takes the
    * maximum event time as the fold reads them, so no micro-batch is
    * materialized just to find its latest event.
    */
  private def closeAtHorizon[E, K: Encoder, S: TypeTag, O: Encoder](
      events: Dataset[E], horizonSec: Long)(
      key: E => K, eventMs: E => Long, zero: S)(
      fold: (S, Iterator[E]) => S)(
      close: (K, S) => Iterator[O]): Dataset[O] = {
    implicit val stateEnc: Encoder[Horizon[S]] = Encoders.product[Horizon[S]]
    val horizonMs = horizonSec * 1000L
    events
      .groupByKey(key)
      .flatMapGroupsWithState[Horizon[S], O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, rows: Iterator[E], state: GroupState[Horizon[S]]) =>
          val prev = state.getOption
          if (state.hasTimedOut) {
            state.remove()
            prev.iterator.flatMap(h => close(k, h.state))
          } else {
            var deadlineMs = prev.fold(0L)(_.deadlineMs)
            val folded = fold(prev.fold(zero)(_.state), rows.map { e =>
              deadlineMs = math.max(deadlineMs, eventMs(e) + horizonMs + 1)
              e
            })
            state.update(Horizon(folded, deadlineMs))
            state.setTimeoutTimestamp(math.max(
              deadlineMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** [[closeAtHorizon]] over a bounded sketch: the state is the sketch
    * buffer's encoding ([[graft.functions.SketchBuffer]]), the codec the
    * batch aggregate's shuffle partials use. A fold decodes the state,
    * inserts the batch's rows and encodes it again; a close decodes it and
    * hands the buffer to `close` for the aggregate's own readout.
    */
  private def sketchAtHorizon[E, K: Encoder, B <: SketchBuffer[B], O: Encoder](
      events: Dataset[E], horizonSec: Long)(
      key: E => K, eventMs: E => Long, codec: SketchCodec[B], k: Int)(
      insert: (B, E) => Unit)(
      close: (K, B) => Iterator[O]): Dataset[O] =
    closeAtHorizon(events, horizonSec)(key, eventMs, codec.empty(k).encode())(
        (bytes, rows) => {
          val buf = codec.decode(k, bytes)
          rows.foreach(insert(buf, _))
          buf.encode()
        })((key, bytes) => close(key, codec.decode(k, bytes)))

  /** A count-map fold: one increment per item `items` yields for a row.
    * Increments commute, so the map is a function of the item multiset —
    * neither arrival order nor volume grows it past the item domain.
    */
  private def counting[E, A](
      items: E => IterableOnce[A]): (Map[A, Long], Iterator[E]) => Map[A, Long] =
    (m, rows) => rows.foldLeft(m)((acc, e) => items(e).iterator.foldLeft(acc)(bump))

  private def bump[A](m: Map[A, Long], a: A): Map[A, Long] = m.updated(a, m.getOrElse(a, 0L) + 1L)

  /** Tokens of a document text, mirroring [[graft.operators.TextOps.tokens]]
    * (`split(text, " ")`, trailing empties kept); a None text (the sentinel
    * protocol) has none.
    */
  private def tokens(text: Option[String]): Iterator[String] =
    text.iterator.flatMap(_.split(" ", -1))

  private def dbl(x: BigInt): Double = java.lang.Double.parseDouble(x.toString)

  /** Input row for [[funnelExact]]: `ts` is the total-order value (µs),
    * `tie` breaks equal timestamps, `step` is the 0-based funnel step this
    * event matches (pre-filtered — non-step events carry no information).
    */
  final case class FunnelEvent(userId: Long, ts: Long, tie: Long, step: Int)

  /** One user's funnel result — the streaming twin of
    * [[graft.operators.FunnelOps.funnel]]'s output row. `times(i)` is the
    * earliest completion of the prefix through step i (None if never).
    */
  final case class FunnelOut(userId: Long, times: Seq[Option[Long]], stepsCompleted: Int)

  /** Streaming EXACT funnel — buffer-until-watermark: events buffer in
    * keyed state and the funnel folds ONCE, over the fully-ordered buffer,
    * when the event-time timeout fires (watermark past the user's last
    * event + `horizonSec`). Unlike sessionization, the funnel's
    * strictly-ordered chain is NOT incrementally foldable with O(1) state
    * under out-of-order delivery — a late early `view` can legitimize a
    * click the incremental fold already rejected — so the honest exact
    * stream twin buffers its horizon. State per user is bounded by
    * step-events within the watermark horizon (production bounds
    * `horizonSec`; the replay gate's horizon covers the finite fixture).
    * `lateSec` is the watermark delay.
    */
  def funnelExact(
      events: Dataset[FunnelEvent],
      numSteps: Int,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    require(numSteps >= 1, s"numSteps must be >= 1, got $numSteps")
    // Buffer only rows carrying a step (noise events are most of a real
    // stream); every arrival still refreshes the horizon deadline, so a
    // user with zero step events emits its all-null row at timeout —
    // matching the batch operator, which reports every entity it saw.
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.userId, _.ts / 1000L, List.empty[FunnelEvent])(
        (buf, rows) => buf ++ rows.filter(e => e.step >= 0 && e.step < numSteps)) {
      (userId, buf) =>
        val times = Array.fill(numSteps)(Option.empty[Long])
        // The exact batch fold: rows in (ts, tie) order; step 0 completes
        // at its first row; step i at the first step-i row strictly after
        // the row that completed step i-1 (guaranteed here because
        // times(i-1) was set while scanning an earlier row — each event
        // carries exactly one step).
        buf.sortBy(e => (e.ts, e.tie)).foreach { e =>
          if (e.step == 0 && times(0).isEmpty) times(0) = Some(e.ts)
          else if (e.step > 0 && times(e.step).isEmpty && times(e.step - 1).isDefined)
            times(e.step) = Some(e.ts)
        }
        Iterator.single(FunnelOut(userId, times.toSeq, times.takeWhile(_.isDefined).size))
    }
  }

  /** Input row for [[cusumExact]]: `ts` µs, `tie` breaks equal
    * timestamps, `v` the value PRE-QUANTIZED to ten-thousandth BIGINTs
    * (the [[graft.operators.TimeSeriesOps.cusum]] convention — quantize
    * once at the source so stream and batch share identical integers).
    */
  final case class CusumEvent(key: Long, ts: Long, tie: Long, v: Long)

  /** One key's closed detector state — the stream twin of
    * [[graft.operators.TimeSeriesOps.cusum]]'s output row.
    */
  final case class CusumOut(key: Long, n: Int, cusumFinal: Long, nOver: Long)

  /** Streaming EXACT one-sided CUSUM — buffer-until-watermark: like the
    * funnel (and unlike the mergeable sketches), the max(0,·) recursion is
    * order-sensitive, so an out-of-order arrival inside the watermark
    * rewrites history an O(1)-state incremental fold already emitted.
    * The honest exact twin buffers each key's horizon and folds ONCE at
    * the event-time timeout, over the fully-(ts, tie)-ordered buffer —
    * bit-identical to the batch operator's answer (shared oracle). State
    * per key is the horizon's observations (production bounds
    * `horizonSec`; the replay gate's horizon covers the finite fixture).
    */
  def cusumExact(
      events: Dataset[CusumEvent],
      refValueE4: Long,
      thresholdE4: Long,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    require(thresholdE4 > 0, s"threshold must be positive, got $thresholdE4")
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, List.empty[CusumEvent])(_ ++ _) { (key, buf) =>
      var s = 0L
      var a = 0L
      buf.sortBy(e => (e.ts, e.tie)).foreach { e =>
        s = math.max(0L, s + e.v - refValueE4)
        if (s > thresholdE4) a += 1
      }
      Iterator.single(CusumOut(key, buf.size, s, a))
    }
  }

  /** Input row for [[budgetAdmitExact]]: `ts` µs, `tie` breaks equal
    * timestamps, `v` a NON-NEGATIVE token count (clamp at the source —
    * a negative count has no quota meaning and would break the
    * monotone-cumsum prefix rule the operator relies on).
    */
  final case class BudgetEvent(key: String, ts: Long, tie: Long, v: Long)

  /** One key's closed admission summary. */
  final case class BudgetOut(key: String, n: Int, nAdmit: Long, tokAdmit: Long)

  /** Streaming ONLINE token-budget admission — the online half of
    * [[graft.operators.CorpusOps.tokenBudgetMix]]'s "B tokens from source
    * s" contract: per key, events are admitted in (ts, tie) order while
    * the running token total stays within `budget` — the maximal
    * admissible PREFIX, i.e. ingestion stops the moment the quota trips,
    * the way a per-source crawl/ingest budget is enforced online. The
    * prefix rule is order-sensitive, so like [[cusumExact]] and
    * [[funnelExact]] the exact twin buffers each key's horizon and folds
    * ONCE at the event-time timeout over the fully (ts, tie)-ordered
    * buffer — bit-identical to the batch window cumsum (shared oracle).
    * With non-negative `v` the cumsum is monotone, so "cum ≤ budget" IS
    * the prefix rule (negative counts are rejected at fold time). State
    * per key is the horizon's observations.
    */
  def budgetAdmitExact(
      events: Dataset[BudgetEvent],
      budget: Long,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[BudgetOut] = {
    import events.sparkSession.implicits._
    require(budget >= 0, s"budget must be >= 0, got $budget")
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, List.empty[BudgetEvent])(_ ++ _) { (key, buf) =>
      var cum = 0L
      var nAdmit = 0L
      var tokAdmit = 0L
      buf.sortBy(e => (e.ts, e.tie)).foreach { e =>
        require(e.v >= 0, s"budgetAdmitExact: negative token count ${e.v} (key $key)")
        cum += e.v
        if (cum <= budget) { nAdmit += 1; tokAdmit += e.v }
      }
      Iterator.single(BudgetOut(key, buf.size, nAdmit, tokAdmit))
    }
  }

  /** One key's closed burstiness summary — the stream twin of
    * [[graft.operators.TimeSeriesOps.fanoFactor]]'s (n, S, fano) columns.
    */
  final case class FanoOut(key: String, nWindows: Int, nEvents: Long,
      fano: Option[Double])

  /** Streaming Fano-factor burstiness — per key, the variance-to-mean
    * ratio of per-window event counts, closed at the event-time timeout.
    * Unlike [[cusumExact]]/[[acfExact]] the statistic is a function of
    * the window-count MULTISET (order-free, increment-commutative), so
    * the state is the window→count map itself — O(horizon/windowSec)
    * entries per key, independent of event volume and arrival order. The
    * closing integers are the batch operator's (n·Σc² − S², n·S) computed
    * in BigInt, and fano takes the digit-string → correctly-rounded-parse
    * route, landing bit-identically on the batch division.
    */
  def fanoExact(
      events: Dataset[BudgetEvent],
      windowSec: Long,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[FanoOut] = {
    import events.sparkSession.implicits._
    require(windowSec > 0, s"windowSec must be positive, got $windowSec")
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, Map.empty[Long, Long])(
        counting(e => Some(Math.floorDiv(e.ts, windowSec * 1000000L)))) { (key, wins) =>
      val n = BigInt(wins.size)
      val s = wins.valuesIterator.map(BigInt(_)).sum
      val cc = wins.valuesIterator.map(c => BigInt(c) * c).sum
      val num = n * cc - s * s
      val den = n * s
      val fano = if (den == 0) None else Some(dbl(num) / dbl(den))
      Iterator.single(FanoOut(key, wins.size, s.toLong, fano))
    }
  }

  /** One key's closed ACF summary — the stream twin of
    * [[graft.operators.TimeSeriesOps.acf]]'s r-columns (the pinned decimal
    * sums stay batch-side; the stream emits the identical doubles, each
    * produced by the same digit-string → correctly-rounded-parse route).
    */
  final case class AcfOut(key: String, n: Int,
      r1: Option[Double], r2: Option[Double], r3: Option[Double])

  /** Streaming EXACT autocorrelation at lags 1–3 — like [[cusumExact]] the
    * statistic is order-sensitive (u_{i}u_{i+L} pairs are adjacency in
    * event-time order), so the exact twin buffers each key's horizon and
    * computes ONCE at the event-time timeout over the fully (ts, tie)-
    * ordered buffer, with BigInt integer centering (uᵢ = n·vᵢ − S —
    * [[graft.operators.TimeSeriesOps.acf]]'s identity, arbitrary
    * precision here since a fold pays no decimal-width tax). Each r_L is
    * `Double.parseDouble(numerator.toString) / parseDouble(den.toString)`
    * — the exact digit-string route Spark's decimal→string→double cast
    * takes, so the stream's doubles are bit-identical to the batch
    * operator's (shared-oracle gateable).
    */
  def acfExact(
      events: Dataset[BudgetEvent],
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[AcfOut] = {
    import events.sparkSession.implicits._
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, List.empty[BudgetEvent])(_ ++ _) { (key, buf) =>
      val v = buf.sortBy(e => (e.ts, e.tie)).map(e => BigInt(e.v)).toArray
      val n = BigInt(v.length)
      val s = v.sum
      val u = v.map(x => n * x - s)
      val den = u.iterator.map(x => x * x).sum
      def r(lag: Int): Option[Double] =
        if (den == 0 || v.length <= lag) None
        else {
          val c = (0 until v.length - lag).iterator.map(i => u(i) * u(i + lag)).sum
          Some(dbl(c) / dbl(den))
        }
      Iterator.single(AcfOut(key, v.length, r(1), r(2), r(3)))
    }
  }

  /** Input row for [[classBalanceExact]]: group key, µs event time, class
    * label.
    */
  final case class ClassEvent(key: String, ts: Long, cls: String)

  /** One key's closed class-balance summary — the stream twin of
    * [[graft.operators.CorpusOps.classBalance]]'s (n, n_classes, simpson,
    * enc) columns (the pinned Σc² decimal stays batch-side).
    */
  final case class ClassBalanceOut(key: String, n: Long, nClasses: Int,
      simpson: Double, enc: Double)

  /** Streaming class-balance (Simpson / effective-number-of-classes) —
    * per key, [[graft.operators.CorpusOps.classBalance]]'s Σcᵢ²/n² and
    * n²/Σcᵢ² over the class counts observed in the horizon, closed at the
    * event-time timeout. The statistic is a function of the class-count
    * MULTISET (order-free, increment-commutative), so like [[fanoExact]]
    * the state is the class→count map itself, O(#classes) per key — the
    * measured-cheap mergeable class (~2.7× cost per decade of input vs
    * ~3.9× for buffer-until-watermark). The closing integers are the
    * batch operator's, computed in BigInt, and both doubles take the
    * digit-string → correctly-rounded-parse route, landing bit-identically
    * on the batch divisions (shared-oracle gateable).
    */
  def classBalanceExact(
      events: Dataset[ClassEvent],
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[ClassBalanceOut] = {
    import events.sparkSession.implicits._
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, Map.empty[String, Long])(counting(e => Some(e.cls))) {
      (key, classes) =>
        if (classes.isEmpty) Iterator.empty
        else {
          val n = classes.valuesIterator.map(BigInt(_)).sum
          val sq = classes.valuesIterator.map(c => BigInt(c) * c).sum
          Iterator.single(ClassBalanceOut(key, n.toLong, classes.size,
            dbl(sq) / dbl(n * n), dbl(n * n) / dbl(sq)))
        }
    }
  }

  /** Input row for [[vocabGiniExact]]: group key, µs event time, document
    * text (None drives the watermark without contributing tokens — the
    * sentinel protocol).
    */
  final case class DocEvent(key: String, ts: Long, text: Option[String])

  /** One key's closed vocabulary-concentration summary — the stream twin
    * of [[graft.operators.CorpusOps.vocabGini]]'s (m_tokens, total_tokens,
    * gini) columns (the pinned rank-sum decimal stays batch-side).
    */
  final case class VocabGiniOut(key: String, mTokens: Long, totalTokens: Long,
      gini: Double)

  /** Streaming vocabulary-Gini concentration — per key,
    * [[graft.operators.CorpusOps.vocabGini]]'s rank-identity coefficient
    * over the token counts observed in the horizon, closed at the
    * event-time timeout. The rank identity Σᵢ(2i − m − 1)cᵢ is a function
    * of the count MULTISET (tie order provably cancels — the batch
    * scaladoc's argument), so the state is the token count map, bounded by
    * the key's VOCABULARY, not its token volume: the mergeable class
    * again, with the close fold paying one vocabulary-sized sort per key
    * AT EMISSION only. Tokenization mirrors the batch operator's, so the
    * counts are its counts; gini takes the digit-string →
    * correctly-rounded-parse route onto the batch division.
    */
  def vocabGiniExact(
      docs: Dataset[DocEvent],
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[VocabGiniOut] = {
    import docs.sparkSession.implicits._
    closeAtHorizon(microsWatermark(docs, lateSec), horizonSec)(
        _.key, _.ts / 1000L, Map.empty[String, Long])(counting(e => tokens(e.text))) {
      (key, toks) =>
        if (toks.isEmpty) Iterator.empty
        else {
          // Rank ascending by (count, token) — the batch window's order;
          // within a tied count block the weights sum identically
          // whatever the order, so the tie-break is display-stable only.
          val ranked = toks.toArray.sortBy { case (t, c) => (c, t) }
          val m = BigInt(ranked.length)
          var num = BigInt(0)
          var total = BigInt(0)
          var i = 0
          while (i < ranked.length) {
            val c = BigInt(ranked(i)._2)
            num += (BigInt(2) * (i + 1) - m - 1) * c
            total += c
            i += 1
          }
          Iterator.single(VocabGiniOut(key, ranked.length.toLong,
            total.toLong, dbl(num) / dbl(m * total)))
        }
    }
  }

  /** One key's closed lexical-diversity summary — the stream twin of
    * [[graft.operators.CorpusOps.vocabRichness]]'s columns.
    */
  final case class VocabRichnessOut(key: String, totalTokens: Long,
      mTokens: Long, nHapax: Long, nDis: Long,
      ttr: Double, hapaxRate: Double, disRate: Double)

  /** Streaming vocabulary richness (TTR + hapax/dis-legomena fractions)
    * — the same token count map as [[vocabGiniExact]] (the mergeable
    * class; one state shape serves both statistics), with a counting
    * close instead of the rank fold: all three ratios are IEEE divisions
    * of exact longs, landing bit-identically on the batch operator's
    * (shared-oracle gateable).
    */
  def vocabRichnessExact(
      docs: Dataset[DocEvent],
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[VocabRichnessOut] = {
    import docs.sparkSession.implicits._
    closeAtHorizon(microsWatermark(docs, lateSec), horizonSec)(
        _.key, _.ts / 1000L, Map.empty[String, Long])(counting(e => tokens(e.text))) {
      (key, toks) =>
        if (toks.isEmpty) Iterator.empty
        else {
          val m = toks.size.toLong
          var total = 0L
          var hapax = 0L
          var dis = 0L
          toks.valuesIterator.foreach { c =>
            total += c
            if (c == 1L) hapax += 1L else if (c == 2L) dis += 1L
          }
          Iterator.single(VocabRichnessOut(key, total, m, hapax, dis,
            m.toDouble / total.toDouble, hapax.toDouble / m.toDouble,
            dis.toDouble / m.toDouble))
        }
    }
  }

  /** Input row for [[tokenShiftExact]]: group key, µs event time, corpus
    * side ("a" = old version, "b" = new), document text (None = sentinel).
    */
  final case class DocSideEvent(key: String, ts: Long, side: String,
      text: Option[String])

  /** One ranked token mover — the stream twin of
    * [[graft.operators.CorpusOps.tokenShift]]'s output row (shiftNum is
    * the exact cross-multiplied numerator's digit string).
    */
  final case class TokenShiftOut(key: String, rnk: Int, token: String,
      cA: Long, cB: Long, shiftNum: String, shift: Double)

  /** Streaming TOP-K TOKEN MOVERS between two corpus versions arriving on
    * one stream — [[graft.operators.CorpusOps.tokenShift]]'s exact
    * |c_a·N_b − c_b·N_a| ranking per key, closed at the event-time
    * timeout. Two corpus versions = two token count maps in ONE state
    * value (one mergeable state shape serves many statistics), each
    * bounded by the key's vocabulary on that side, never token volume;
    * the close fold pays one vocabulary-sized sort per key AT EMISSION
    * only. Tokenization mirrors [[graft.operators.TextOps.tokens]]; the
    * numerators are BigInt cross-products and `shift` takes the
    * digit-string → correctly-rounded-parse route onto the batch
    * division, so emissions land bit-identically on the batch oracle.
    * Keys that closed with either side EMPTY emit nothing (no movers
    * between a corpus and nothing — the batch operator's N·N > 0 domain).
    * Tie-order caveat as [[graft.operators.LangId.classifyEmissions]]: the
    * close fold's token tie-break is Java String order (≡ the batch
    * UTF8String byte order on ASCII tokens, the fixture's domain).
    */
  def tokenShiftExact(
      docs: Dataset[DocSideEvent],
      k: Int,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[TokenShiftOut] = {
    require(k >= 1, s"k must be >= 1, got $k")
    import docs.sparkSession.implicits._
    val none = Map.empty[String, Long]
    closeAtHorizon(microsWatermark(docs, lateSec), horizonSec)(
        _.key, _.ts / 1000L, (none, none))(
        (ab, rows) => rows.foldLeft(ab) { case ((a, b), e) =>
          if (e.side == "a") (tokens(e.text).foldLeft(a)(bump), b)
          else (a, tokens(e.text).foldLeft(b)(bump))
        }) { case (key, (a, b)) =>
      if (a.isEmpty || b.isEmpty) Iterator.empty
      else {
        val na = BigInt(a.valuesIterator.sum)
        val nb = BigInt(b.valuesIterator.sum)
        val den = dbl(na * nb)
        (a.keySet ++ b.keySet).iterator.map { tok =>
          val ca = a.getOrElse(tok, 0L)
          val cb = b.getOrElse(tok, 0L)
          (tok, ca, cb, (BigInt(ca) * nb - BigInt(cb) * na).abs)
        }.toArray
          .sortWith((x, y) => x._4 > y._4 || (x._4 == y._4 && x._1 < y._1))
          .take(k).iterator.zipWithIndex.map { case ((tok, ca, cb, num), i) =>
            TokenShiftOut(key, i + 1, tok, ca, cb, num.toString, dbl(num) / den)
          }
      }
    }
  }

  /** Input row for the value-level statistics twins
    * ([[trimmedMeanExact]], [[countingMedianExact]], [[valueCountsExact]]):
    * group key, µs event time, PRE-QUANTIZED integer value (the batch
    * operators' ⌊v·10^s+0.5⌋ chain applied upstream). All three keep the
    * per-key value→count map — O(#distinct quantized values), the
    * mergeable count-map class once more: each statistic is a function of
    * the value MULTISET, so neither volume nor arrival order grows the
    * state.
    */
  final case class ValueEvent(key: String, ts: Long, v: Long)

  /** One key's closed trimmed mean — the stream twin of
    * [[graft.operators.StatOps.trimmedMean]]'s (n, n_kept, trimmed_mean)
    * columns (the decimal pin stays batch-side).
    */
  final case class TrimmedMeanOut(key: String, n: Long, nKept: Long,
      trimmedMean: Option[Double])

  /** One key's closed exact lower median — the stream twin of
    * [[graft.operators.StatOps.countingMedian]]'s (n, med) columns, med
    * in original units.
    */
  final case class MedianOut(key: String, n: Long, med: Double)

  /** Streaming EXACT trimmed mean — [[graft.operators.StatOps
    * .trimmedMean]]'s level-range rank-interval arithmetic run once at
    * the event-time timeout over the value count map: levels sort at
    * emission (vocabulary-of-values sized, not event sized), each level
    * contributes the exact integer overlap of its rank interval with the
    * trimmed window [⌊n·p⌋, n−⌊n·p⌋), the trimmed sum accumulates in
    * BigInt, and the mean takes the digit-string →
    * correctly-rounded-parse route — bit-identical to the batch division
    * (shared-arithmetic oracle). `unitScale` is the upstream quantization
    * exponent (values are integer 10^-unitScale units).
    */
  def trimmedMeanExact(
      events: Dataset[ValueEvent],
      trimNum: Int, trimDen: Int, unitScale: Int,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[TrimmedMeanOut] = {
    import events.sparkSession.implicits._
    require(trimNum >= 0 && trimDen > 0 && 2 * trimNum < trimDen,
      s"need 0 <= trimNum/trimDen < 1/2, got $trimNum/$trimDen")
    val unit = math.pow(10.0, unitScale)
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, Map.empty[Long, Long])(counting(e => Some(e.v))) {
      (key, vals) =>
        if (vals.isEmpty) Iterator.empty
        else {
          val levels = vals.toArray.sortBy(_._1)
          val n = levels.iterator.map(_._2).sum
          val lo = n * trimNum / trimDen
          val hi = n - lo
          var cum = 0L
          var nKept = 0L
          var trimSum = BigInt(0)
          levels.foreach { case (v, m) =>
            val keep = math.max(0L, math.min(cum + m, hi) - math.max(cum, lo))
            nKept += keep
            trimSum += BigInt(keep) * v
            cum += m
          }
          val mean =
            if (nKept == 0L) None
            else Some(dbl(trimSum) / (nKept.toDouble * unit))
          Iterator.single(TrimmedMeanOut(key, n, nKept, mean))
        }
    }
  }

  /** Streaming EXACT lower median — the second statistic off the value
    * count map: walk the sorted levels to rank ⌈n/2⌉. The med double is
    * one IEEE division of the exact integer level by the unit — identical
    * to the batch decimal→double conversion (both correctly round the
    * same rational).
    */
  def countingMedianExact(
      events: Dataset[ValueEvent],
      unitScale: Int,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[MedianOut] = {
    import events.sparkSession.implicits._
    val unit = math.pow(10.0, unitScale)
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, Map.empty[Long, Long])(counting(e => Some(e.v))) {
      (key, vals) =>
        if (vals.isEmpty) Iterator.empty
        else {
          val levels = vals.toArray.sortBy(_._1)
          val n = levels.iterator.map(_._2).sum
          val k = (n + 1) / 2
          var cum = 0L
          var med = levels.last._1
          val it = levels.iterator
          var found = false
          while (it.hasNext && !found) {
            val (v, m) = it.next()
            cum += m
            if (cum >= k) { med = v; found = true }
          }
          Iterator.single(MedianOut(key, n, med.toDouble / unit))
        }
    }
  }

  /** One closed (key, value, count) row from [[valueCountsExact]] — the
    * raw count-map emission the cross-key normalizers consume.
    */
  final case class ValueCountOut(key: String, v: Long, c: Long)

  /** Streaming per-key VALUE COUNTS — the value count map emitted RAW at
    * the event-time timeout, one row per (key, value) with its exact
    * count, values ascending. The building block for statistics that are
    * per-key count maps composed with a CROSS-key normalization no keyed
    * state can see (t-closeness' global sensitive-value distribution, any
    * Σ-over-all-groups denominator): the stream owns the per-key
    * accumulation (bounded by the value domain, increment-commutative, so
    * arrival order and volume never grow state), and the consumer runs
    * the closing cross-key formula batch-side over these emitted counts —
    * e.g. [[graft.operators.GovernanceOps.tClosenessFromCounts]], whose
    * batch twin is the identical formula over a batch `groupBy(...).count`,
    * so one oracle gates both.
    */
  def valueCountsExact(
      events: Dataset[ValueEvent],
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[ValueCountOut] = {
    import events.sparkSession.implicits._
    closeAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, Map.empty[Long, Long])(counting(e => Some(e.v))) {
      (key, vals) =>
        vals.toArray.sortBy(_._1).iterator.map { case (v, c) => ValueCountOut(key, v, c) }
    }
  }

  /** Input row for [[hashSampleExact]]: group key, pre-hashed UNIQUE row
    * key, BIGINT value, µs.
    */
  final case class SampleEvent(key: String, h: Long, v: Long, ts: Long)

  /** Final sample per key: the sampled values sorted ascending — read
    * quantiles positionally, exactly like the batch aggregate's output.
    */
  final case class SampleOut(key: String, nSample: Int, values: Seq[Long])

  /** Streaming bottom-k-by-hash value sample — the stream twin of
    * [[graft.functions.HashSampleValues]] / approximate quantiles, and a
    * second member of the mergeable-sketch class [[kmvDistinctExact]]
    * anchors: the sample is a commutative, idempotent function of the
    * (hash, value) SET (bounded pairwise union, duplicate hashes keep the
    * minimum value), so it folds incrementally under any arrival order,
    * state is O(k) pairs per key by construction, and any micro-batch
    * slicing of a replay lands on the identical sample.
    *
    * Determinism: the state is the encoded
    * [[graft.functions.HashSampleBuffer]] the batch aggregate merges
    * ([[sketchAtHorizon]]), and the close is the buffer's
    * [[graft.functions.HashSampleBuffer.sortedValues]] readout, the batch
    * `eval`'s — a replayed stream's sample is bit-identical to the batch
    * sample of the same rows (pinned in EventStreamsSpec with a disorder
    * replay).
    */
  def hashSampleExact(
      events: Dataset[SampleEvent],
      k: Int,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[SampleOut] = {
    import events.sparkSession.implicits._
    require(k >= 2, s"k must be >= 2, got $k")
    sketchAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, HashSampleBuffer, k)((buf, e) => buf.insert(e.h, e.v)) {
      (key, buf) => Iterator.single(SampleOut(key, buf.n, buf.sortedValues.toSeq))
    }
  }

  /** Input row for [[kmvDistinctExact]]: group key, pre-hashed value, µs. */
  final case class KmvEvent(key: String, h: Long, ts: Long)

  /** Final sketch per key, same readout as the batch aggregate. */
  final case class KmvOut(key: String, nMin: Int, kthHash: Long, estDistinct: Double)

  /** Streaming KMV bottom-k distinct sketch — the stream twin of
    * [[graft.operators.Sketches.kmvDistinct]], and the counterexample to
    * the funnel's buffering problem: the KMV sketch is a COMMUTATIVE,
    * idempotent function of the value SET (a bounded union of minima), so
    * unlike the ordered funnel chain it folds incrementally under any
    * arrival order and disorder costs nothing. State per key is the
    * bottom-k distinct hashes — O(k) longs, period: not bounded-by-horizon
    * like the buffers, bounded by construction; a key's final sketch emits
    * once the watermark passes its horizon deadline.
    *
    * Determinism: the state is the encoded [[graft.functions.KmvBuffer]]
    * the batch aggregate merges ([[sketchAtHorizon]]), and the close is the
    * buffer's [[graft.functions.KmvBuffer.kthAndEstimate]] readout, the
    * batch `eval`'s — a replayed stream's sketch is bit-identical to the
    * batch sketch of the same rows, whatever the micro-batch slicing
    * (pinned in EventStreamsSpec with a disorder-replay).
    */
  def kmvDistinctExact(
      events: Dataset[KmvEvent],
      k: Int,
      range: Long,
      horizonSec: Long,
      lateSec: Long = 0L): Dataset[KmvOut] = {
    import events.sparkSession.implicits._
    require(k >= 2, s"k must be >= 2, got $k")
    sketchAtHorizon(microsWatermark(events, lateSec), horizonSec)(
        _.key, _.ts / 1000L, KmvBuffer, k)((buf, e) => buf.insert(e.h)) { (key, buf) =>
      val (kth, est) = buf.kthAndEstimate(range)
      Iterator.single(KmvOut(key, buf.n, kth, est))
    }
  }

  /** One CDC change in flight (see [[cdcMaterialize]]): `op` is 'u'
    * (upsert) or 'd' (delete), `ord` the per-key total order, `payload`
    * the full row to materialize.
    */
  final case class CdcEvent[P](key: Long, ord: Long, op: String, payload: P, epochSec: Long)

  /** Per-key winner so far plus the running-max emission deadline. */
  final case class CdcKeep[P](ord: Long, op: String, payload: P, deadlineMs: Long)

  /** Streaming CDC materialization — the stream twin of
    * [[graft.operators.MergeOps.applyChanges]]'s delta half: maintain, per
    * key, the highest-`ord` change seen (Debezium-style last-write-wins;
    * `ord` must totally order each key's changes, same contract as the
    * batch `lastWriteWins`), and when the watermark passes the horizon emit
    * the surviving payload for keys whose final op is 'u' — deleted keys
    * emit nothing. Overlaying the emitted delta on the unchanged target
    * rows (a batch anti-join) reproduces `applyChanges` exactly; that
    * composition is what the `q_stream_cdc` gate runs against the shared
    * oracle.
    *
    * Generic in the payload row type `P` (any case class): the state
    * encoder derives from `P`'s. State is O(1) per touched key — the
    * winner, never the history — so executor memory is bounded by
    * horizon key-cardinality, not change volume. Unknown ops fail the
    * query loudly (the batch operator's `raise_error` contract).
    *
    * NULL-op rows are WATERMARK CARRIERS: ignored by the fold (no state,
    * no deadline), they exist so a replay's far-future sentinels can drive
    * the horizon emission. They are handled HERE rather than by a caller
    * `filter(op.isNotNull)` because such a filter does not reference the
    * event-time column, so the optimizer pushes it BELOW the
    * EventTimeWatermark node and the sentinels silently stop advancing the
    * watermark (observed: zero emission, wm frozen at the last data batch).
    * Callers must make carrier rows encoder-safe: non-null key/ord (any
    * value) and a NULL payload struct (`when(op.isNotNull, struct(...))`).
    * This is why the operator keeps its own protocol instead of
    * [[closeAtHorizon]]: there every row of a group creates state and moves
    * the deadline, so a carrier sharing a real key's group would push that
    * key's deadline to the sentinel's far-future time and it would never
    * emit.
    */
  def cdcMaterialize[P <: Product : TypeTag](
      changes: Dataset[CdcEvent[P]], horizonSec: Long): Dataset[P] = {
    implicit val keepEnc: Encoder[CdcKeep[P]] = Encoders.product[CdcKeep[P]]
    implicit val outEnc: Encoder[P] = Encoders.product[P]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[CdcKeep[P], P](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[CdcEvent[P]], state: GroupState[CdcKeep[P]]) =>
          if (state.hasTimedOut) {
            val keep = state.get
            state.remove()
            if (keep.op == "u") Iterator.single(keep.payload) else Iterator.empty
          } else {
            var cur = state.getOption
            var maxMs = 0L
            rows.foreach { e =>
              if (e.op != null) { // null op = watermark carrier, see scaladoc
                require(e.op == "u" || e.op == "d",
                  s"cdcMaterialize: unknown op '${e.op}' (expected 'u' or 'd')")
                maxMs = math.max(maxMs, e.epochSec * 1000L)
                // >=, not >: among equal ords the later ARRIVAL wins, the
                // same arbitrary-tie posture as the batch row_number desc.
                if (cur.forall(_.ord <= e.ord))
                  cur = Some(CdcKeep(e.ord, e.op, e.payload, 0L))
              }
            }
            cur.foreach { winner =>
              val deadlineMs = math.max(
                state.getOption.map(_.deadlineMs).getOrElse(0L),
                maxMs + horizonSec * 1000L + 1)
              state.update(winner.copy(deadlineMs = deadlineMs))
              state.setTimeoutTimestamp(math.max(
                deadlineMs, state.getCurrentWatermarkMs() + 1))
            }
            Iterator.empty
          }
      }
  }

  /** One item routed to an MG shard (see [[mgCandidatesStream]]). */
  final case class MgEvent(item: String, shard: Int, epochSec: Long)

  /** One surviving MG candidate with its stored (under)count. */
  final case class MgCandidate(shard: Int, item: String, stored_cnt: Long)

  /** Streaming Misra–Gries heavy-hitter CANDIDATE generation — the
    * streaming ingest half of the canonical two-pass exact heavy-hitters
    * pipeline (`CorpusOps.heavyHitters`): fold the item stream into ≤
    * `capacity` counters per shard, emit the surviving candidates when the
    * watermark passes the horizon, then let a bounded exact pass count just
    * the candidates. The state is the encoded [[graft.functions.MgBuffer]]
    * the batch sketch merges ([[sketchAtHorizon]]), and the close is its
    * [[graft.functions.MgBuffer.candidates]] readout — one code path.
    *
    * Sharding is the scale knob: items route by hash to `nShards`
    * independent summaries (an item's full count lands in exactly one
    * shard, and shardTotal ≤ total, so the per-shard undercount bound
    * `shardTotal/(capacity+1)` is at most the global bound — every global
    * heavy hitter above `total/capacity` is GUARANTEED to survive its
    * shard, after any arrival order; the union of shard candidates is the
    * superset the exact pass needs). State is the shard's ≤ capacity
    * (item, count) entries — O(nShards · capacity), independent of stream
    * length and vocabulary size.
    *
    * `itemsExpr` must be an ARRAY column over `source`'s rows (wrap a
    * scalar in `array(...)`); the watermark is applied on `tsCol` BEFORE
    * the explode, so rows whose array is empty/null (e.g. null-text
    * sentinels) still advance event time. Emission is timeout-driven
    * ([[closeAtHorizon]], epoch-second event time); each shard emits once
    * and clears.
    */
  def mgCandidatesStream(
      source: DataFrame,
      itemsExpr: org.apache.spark.sql.Column,
      tsCol: String,
      capacity: Int,
      nShards: Int,
      horizonSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[MgCandidate] = {
    require(capacity >= 1 && nShards >= 1)
    import source.sparkSession.implicits._
    val items = source
      .withWatermark(tsCol, watermarkDelay)
      .select(explode(itemsExpr).as("item"), col(tsCol))
      .filter(col("item").isNotNull)
      .select(col("item"),
        pmod(xxhash64(col("item")), lit(nShards)).cast("int").as("shard"),
        col(tsCol).cast("long").as("epochSec"),
        col(tsCol)) // untouched attribute keeps the watermark defined
      .as[MgEvent]
    sketchAtHorizon(items, horizonSec)(
        _.shard, _.epochSec * 1000L, MgBuffer, capacity)((buf, e) => buf.add(e.item, 1L)) {
      (shard, buf) => buf.candidates.iterator.map { case (i, c) => MgCandidate(shard, i, c) }
    }
  }

  /** One banded document in flight to a bucket (see [[simhashNearDup]]). */
  final case class BandedDoc(band: Int, bkey: Long, docId: Long, sig: Long, epochSec: Long)

  /** Per-bucket keyed state: the signatures currently inside the horizon.
    * Parallel Seqs, not a Seq of tuples — the product encoder codegens
    * flat array columns.
    */
  final case class NearDupBucketState(
      docIds: Seq[Long], sigs: Seq[Long], epochs: Seq[Long])

  /** One verified near-duplicate pair, `doc_i < doc_j`. */
  final case class NearDupPair(doc_i: Long, doc_j: Long, hamming: Long)

  /** Streaming banded-SimHash near-dup detection — the streaming twin of
    * [[graft.operators.SimHash.nearDupPairs]].
    *
    * Signatures come from the SAME compiled per-row fold as the batch
    * operator ([[graft.operators.SimHash.bandedSignaturesWith]] — one code
    * path, no semantic twin to drift), exploded into (band, bkey) rows. Each
    * band bucket is a `flatMapGroupsWithState` key whose state holds the
    * signatures seen within `horizonSec`; an arriving document is verified
    * (exact Hamming) against exactly its bucket's held signatures and the
    * matches emit IMMEDIATELY in append mode — no watermark wait on the
    * output path. A pair colliding in k bands emits k times; deduplicate
    * downstream (the batch operator ends in the same `.distinct()`).
    *
    * Semantics: a pair is reported iff the two documents land in a shared
    * bucket while both are inside the horizon — the sliding-corpus posture
    * (new docs dedup against the trailing `horizonSec` of corpus). With a
    * horizon covering the whole replay this equals the batch operator
    * exactly (same pigeonhole recall-1 argument, `maxHamming <= bands-1`).
    *
    * Scale/state posture: state per bucket is bounded by the bucket's
    * horizon occupancy (2^bandBits buckets per band spread the corpus);
    * eviction is WATERMARK-driven — an entry leaves when the watermark
    * (not merely a newer arrival) passes `ts + horizonSec`, so a late
    * partner within the watermark delay still finds it. Timeout deadlines
    * are a running max (never regress). A re-delivered
    * docId is ignored (at-least-once input → exactly-once state), matching
    * `q_stream_dedup`'s posture.
    *
    * @param docs streaming DataFrame with `idCol` (LONG), `textCol`
    *             (STRING; null/blank rows are excluded, same as batch, so
    *             null-text sentinel rows can drive the watermark without
    *             entering any bucket), `tsCol` (TIMESTAMP event time)
    */
  def simhashNearDup(
      docs: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      horizonSec: Long,
      bits: Int = 60, bandBits: Int = 15, maxHamming: Int = 3,
      watermarkDelay: String = "0 seconds"): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    // Watermark FIRST, on the raw stream; the degenerate-text filter inside
    // the shared banding is ANCHORED to tsCol (every conjunct references the
    // watermark attribute) so no part of it is pushed below the
    // EventTimeWatermark node — null-text sentinel rows flow through the
    // watermark exec before being dropped and can drive eviction on their
    // own (pinned by the sentinel-eviction spec case).
    val banded = graft.operators.SimHash.bandedSignaturesWith(
      docs.withWatermark(tsCol, watermarkDelay),
      idCol, textCol, bits, bandBits, maxHamming, carry = Seq(tsCol),
      anchor = Some(col(tsCol)))
      .select(col("band").cast("int").as("band"), col("bkey"),
        col("doc_id").as("docId"), col("sig"),
        col(tsCol).cast("long").as("epochSec"),
        col(tsCol)) // untouched attribute: keeps the watermark defined here
      .as[BandedDoc]
    nearDupBandedStream(banded, maxHamming, horizonSec)
  }

  /** SRP-banded streaming near-dup over EMBEDDING vectors — the vector twin
    * of [[simhashNearDup]], sharing its band-bucket state machine
    * ([[nearDupBandedStream]]): signatures come from the same compiled
    * sign-random-projection fold as the batch operator
    * ([[graft.operators.VectorOps.srpSignature]] — one code path), exploded
    * into (band, bkey) keys; pairs within `maxHamming` emit inline with the
    * same pigeonhole recall-1 contract (`maxHamming <= bands-1`), so with a
    * horizon covering the replay the pair set equals
    * `VectorOps.srpNearDupPairs` minus its attached cosine — attach the
    * exact cosine downstream with one batch join over the (small) pair set.
    * Degenerate vectors carry a null signature and are excluded before
    * banding, mirroring the batch band join's null-key drop.
    */
  def srpNearDup(
      vecs: DataFrame,
      idCol: String, vecCol: String, tsCol: String,
      dim: Int, horizonSec: Long,
      bits: Int = 32, bandBits: Int = 8, maxHamming: Int = 3,
      watermarkDelay: String = "0 seconds"): Dataset[NearDupPair] = {
    import vecs.sparkSession.implicits._
    require(bits % bandBits == 0, "bits must be a multiple of bandBits")
    val bands = bits / bandBits
    require(maxHamming <= bands - 1,
      s"recall-1 guarantee needs maxHamming <= bands-1 = ${bands - 1}")
    val banded = vecs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).as("docId"),
        graft.operators.VectorOps.srpSignature(col(vecCol), bits, dim).as("sig"),
        graft.operators.VectorOps.norm2(col(vecCol)).as("nn"),
        col(tsCol))
      // Null signature (null/null-element vector) and zero-norm exclusion —
      // the batch operator's posture (cosine is undefined for zero vectors,
      // and the signature-0 bucket would pair them quadratically). Every
      // conjunct is anchored to tsCol so none is split off and pushed below
      // the EventTimeWatermark node: degenerate sentinel rows must pass
      // through the watermark exec before being dropped (see
      // simhashNearDup / SimHash.textSignaturesWith).
      .filter((col("sig").isNotNull || col(tsCol).isNull) &&
        (col("nn") > 0 || col(tsCol).isNull) && col(tsCol).isNotNull)
      .select(Seq(col("docId"), col("sig"), col(tsCol)) :+
        posexplode(array((0 until bands).map(b =>
          graft.operators.SimHash.bandKey(col("sig"), b, bandBits)): _*))
          .as(Seq("band", "bkey")): _*)
      .select(col("band").cast("int").as("band"), col("bkey"),
        col("docId"), col("sig"),
        col(tsCol).cast("long").as("epochSec"),
        col(tsCol))
      .as[BandedDoc]
    nearDupBandedStream(banded, maxHamming, horizonSec)
  }

  /** The shared band-bucket near-dup state machine behind
    * [[simhashNearDup]] (text) and [[srpNearDup]] (embeddings): each
    * (band, bkey) bucket holds the in-horizon signatures as keyed state,
    * arrivals verify by exact Hamming against their bucket only and emit
    * inline; watermark-driven eviction before pairing, running-max
    * deadlines, duplicate-docId delivery ignored (see [[simhashNearDup]]'s
    * scaladoc for the full contract). Not a [[closeAtHorizon]] operator: it
    * emits pairs inline on arrival and evicts each held entry on its own
    * deadline instead of closing the whole key at once.
    */
  def nearDupBandedStream(
      banded: Dataset[BandedDoc], maxHamming: Int, horizonSec: Long): Dataset[NearDupPair] = {
    import banded.sparkSession.implicits._
    banded
      .groupByKey(b => (b.band, b.bkey))
      .flatMapGroupsWithState[NearDupBucketState, NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[BandedDoc], state: GroupState[NearDupBucketState]) =>
          def held: Vector[(Long, Long, Long)] = state.getOption.map { s =>
            s.docIds.lazyZip(s.sigs).lazyZip(s.epochs).toVector
          }.getOrElse(Vector.empty)
          def store(kept: Vector[(Long, Long, Long)]): Unit =
            if (kept.isEmpty) state.remove()
            else {
              state.update(NearDupBucketState(
                kept.map(_._1), kept.map(_._2), kept.map(_._3)))
              // Re-arm for the LAST entry's eviction; running max keeps the
              // deadline monotone and strictly above the watermark.
              state.setTimeoutTimestamp(math.max(
                (kept.iterator.map(_._3).max + horizonSec) * 1000L + 1,
                state.getCurrentWatermarkMs() + 1))
            }
          val evictBeforeSec =
            math.floorDiv(state.getCurrentWatermarkMs(), 1000L) - horizonSec
          if (state.hasTimedOut) {
            store(held.filter(_._3 >= evictBeforeSec))
            Iterator.empty
          } else {
            // Evict BEFORE pairing: an arriving row's event time is >= the
            // watermark (later rows were dropped as late), so any held entry
            // older than wm - horizon is more than `horizonSec` away from
            // every arrival — pairing against it would violate the horizon
            // contract. No legal pair is lost by evicting first.
            var kept = held.filter(_._3 >= evictBeforeSec)
            val out = Vector.newBuilder[NearDupPair]
            // In-batch arrival order is nondeterministic; sort so the
            // emitted (i, j, hamming) set is replay-stable (it is anyway —
            // pairs are order-normalized — but the sort also makes
            // duplicate-docId suppression deterministic).
            rows.toVector.sortBy(d => (d.epochSec, d.docId)).foreach { d =>
              if (!kept.exists(_._1 == d.docId)) {
                kept.foreach { case (oid, osig, _) =>
                  val ham = java.lang.Long.bitCount(osig ^ d.sig).toLong
                  if (ham <= maxHamming)
                    out += NearDupPair(math.min(oid, d.docId), math.max(oid, d.docId), ham)
                }
                kept :+= ((d.docId, d.sig, d.epochSec))
              }
            }
            store(kept)
            out.result().iterator
          }
      }
  }
}
