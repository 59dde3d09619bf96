package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{dec, exactDouble}

/** Time-series regularization primitives: turning an irregular observation
  * table into the dense, gap-free series downstream window/feature logic
  * assumes (the `pandas.resample().ffill()` shape SQL engines express with a
  * calendar spine + `IGNORE NULLS` window).
  */
object TimeSeriesOps {

  /** Densify `obs` to one row per `step` between each key's FIRST and LAST
    * observed `timeCol`, forward-filling every `fillCols` value from the
    * key's most recent observation. `is_observed` marks real rows. Nulls
    * *inside* an observed row are filled from older observations too —
    * standard ffill semantics; pre-coalesce upstream if an observed null
    * must stick.
    *
    * Contract: (`keys`, `timeCol`) unique and non-null per row ([[MergeOps
    * .lastWriteWins]] upstream collapses duplicate observations), `timeCol`
    * a DATE (or any `sequence`-steppable type matching `step`).
    *
    * Scale shape: one hash aggregate on `keys` for the (min, max) span, the
    * spine explodes per key with NO shuffle, one equi-join back on
    * (`keys`, `timeCol`), one per-key window for all fills (a single Window
    * operator — the fill columns share the frame). Spine size is
    * span/step per key — a key observed once a year at daily step inflates
    * 365×; choose `step` for the series' real grain. Hot keys serialize in
    * the window like any per-key sort.
    */
  def gapFill(
      obs: DataFrame,
      keys: Seq[String],
      timeCol: String,
      fillCols: Seq[String],
      step: Column = expr("interval 1 day")): DataFrame = {
    require(keys.nonEmpty, "gapFill needs at least one key column")
    require(fillCols.nonEmpty, "gapFill needs at least one fill column")
    val spine = obs.groupBy(keys.map(col): _*)
      .agg(min(col(timeCol)).as("graft_lo"), max(col(timeCol)).as("graft_hi"))
      .select(keys.map(col) :+
        explode(sequence(col("graft_lo"), col("graft_hi"), step)).as(timeCol): _*)
    val joined = spine.join(obs.withColumn("graft_obs", lit(true)),
      keys :+ timeCol, "left")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = fillCols.foldLeft(joined)((df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    filled
      .withColumn("is_observed", coalesce(col("graft_obs"), lit(false)))
      .drop("graft_obs")
  }

  /** One-sided (upper) CUSUM drift detector per key — the telemetry /
    * data-quality changepoint screen (Page 1954): over the
    * (orderCol, tieCols)-sorted series,
    *
    *   s₀ = 0;  sᵢ = max(0, sᵢ₋₁ + (vᵢ − refValue))
    *
    * with an alarm whenever sᵢ exceeds `threshold` — a sustained upward
    * shift of the mean accumulates in s where noise cancels. EXACT
    * integer arithmetic throughout: values quantize once to ten-
    * thousandths (`DECIMAL(18,4) · 10⁴ → BIGINT`, the [[graft.operators.StatOps]]
    * convention) and `refValue`/`threshold` are given in the same units,
    * so the result is bit-reproducible across engines and partitionings —
    * float CUSUM's running sum could never face a hash gate.
    *
    * Unlike [[ewmaLast]]'s genuinely non-linear recursion, CUSUM
    * LINEARIZES: with cᵢ = Σ_{j≤i}(vⱼ − ref) the max(0,·) recursion has
    * the closed form
    *
    *   sᵢ = cᵢ − min(0, min_{j≤i} cⱼ)
    *
    * (the running sum minus its running minimum — each reset-to-zero is
    * exactly "restart the sum at the prefix minimum"). That makes the
    * detector two cumulative WINDOWS over one per-key sort — no
    * collect_list, no per-key array, no fold: the shape that survives
    * million-row keys. (The fold formulation also proved untrustworthy as
    * an oracle: DuckDB 1.0's `list_reduce` mis-evaluates struct
    * accumulators whose lambda reads a field twice — observed alarming at
    * s < h with prefix-dependent answers — so the window identity is
    * load-bearing for the gate, property-pinned against the recursive
    * reference in TimeSeriesOpsSpec.)
    *
    * Output: key cols + (n, cusum_final, n_over) — the closing statistic
    * and how many observations sat above the threshold. No reset-on-alarm
    * (the count is "time spent in alarm", the form that needs no extra
    * convention); both are integers in ten-thousandth units.
    */
  def cusum(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: Column,
      tieCols: Seq[Column],
      valueCol: Column,
      refValueE4: Long,
      thresholdE4: Long): DataFrame = {
    require(thresholdE4 > 0, s"threshold must be positive, got $thresholdE4")
    val vq = (valueCol.cast("decimal(18,4)") * 10000).cast("long")
    val keys = keyCols.map(col)
    val ord = (orderCol.as("graft_o") +:
      tieCols.zipWithIndex.map { case (c, i) => c.as(s"graft_t$i") })
    val ordCols = ("graft_o" +: tieCols.indices.map(i => s"graft_t$i")).map(col)
    val wCum = Window.partitionBy(keys: _*)
      .orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.select(keys ++ ord :+ vq.as("graft_v"): _*)
      .withColumn("graft_c", sum(col("graft_v") - refValueE4).over(wCum))
    // Same partitioning+ordering → Spark reuses the one sort for all
    // three windows (no second exchange).
    val wDesc = Window.partitionBy(keys: _*)
      .orderBy(ordCols.map(_.desc): _*)
    val s = col("graft_c") - least(min(col("graft_c")).over(wCum), lit(0L))
    base
      .withColumn("graft_s", s)
      .withColumn("graft_last", row_number().over(wDesc))
      .groupBy(keys: _*)
      .agg(count(lit(1)).cast("int").as("n"),
        max(when(col("graft_last") === 1, col("graft_s"))).as("cusum_final"),
        sum(when(col("graft_s") > thresholdE4, 1L).otherwise(0L)).as("n_over"))
  }

  /** Final exponentially-weighted moving average per key — the "current
    * smoothed value" of an irregular series:
    *
    *   ewma₀ = v₀;  ewmaᵢ = α·vᵢ + (1−α)·ewmaᵢ₋₁
    *
    * computed as ONE strict left fold over the (orderCol, tieCols)-sorted
    * observations, so the float-op sequence is fixed by the data alone —
    * bit-reproducible across engines and partitionings (pick α an exact
    * binary fraction and the literals are too). The recursive form is
    * NOT expressible as a window aggregate (each term rescales the whole
    * history), and a per-row-emitting fold would copy O(n²) accumulator
    * state — the per-key FINAL value is the O(n) shape.
    *
    * Scale: one key-partitioned aggregate; per-key memory is the series
    * length (collect + sort inside the group). Bound the series with a
    * time-window filter upstream for unbounded keys.
    */
  def ewmaLast(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: Column,
      tieCols: Seq[Column],
      valueCol: Column,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val obs = struct(
      (orderCol.as("o") +: tieCols.zipWithIndex.map { case (c, i) => c.as(s"t$i") }) :+
        valueCol.cast("double").as("v"): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(obs)).as("graft_os"))
      .select(keyCols.map(col) ++ Seq(
        size(col("graft_os")).as("n"),
        aggregate(
          slice(col("graft_os"), lit(2), size(col("graft_os")) - 1),
          element_at(col("graft_os"), 1).getField("v"),
          (acc, x) => lit(alpha) * x.getField("v") + lit(1.0 - alpha) * acc
        ).as("ewma")): _*)
  }

  /** Per-key burstiness — the FANO FACTOR (variance-to-mean ratio) of
    * per-window event counts: F = 1 for a Poisson arrival process, > 1
    * bursty, < 1 regular. The traffic-health check next to [[acf]]'s
    * temporal correlation: a crawler gone rogue or a collapsed source
    * shows up as a Fano spike before any volume alarm fires.
    *
    * Windows are fixed `windowSec` buckets of event time; only OBSERVED
    * windows enter (an all-quiet window is indistinguishable from
    * out-of-range here — densify with [[gapFill]] first if zeros must
    * count). With n windows and counts cᵢ (S = Σcᵢ):
    *
    *   F = ((n·Σcᵢ² − S²) / n) / S  =  (n·Σcᵢ² − S²) / (n·S)
    *
    * — all integers, accumulated as (18,0)×(19,0) DECIMALs, one IEEE
    * division of digit-string-cast operands. Scale: two combiner-reduced
    * hash aggregates ((key, window) then key), no window function at all.
    *
    * Output: (keys…, n_windows, n_events, fano_num, fano_den, fano);
    * single-window keys are fine (F = 0 when n = 1 ⇒ num = 0). The
    * integer pins are exposed as DIGIT STRINGS, not DECIMAL(38,0) — the
    * one output type the two engines' hashers disagreed on (r15 driver
    * drift); the decimal→string cast is canonical on both. fano guards
    * the (unreachable on non-empty keys, but contract-stated) zero
    * denominator with NULL, matching the streaming twin.
    */
  def fanoFactor(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: Column,
      windowSec: Long): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive, got $windowSec")
    val keys = keyCols.map(col)
    // tsCol is epoch MICROSECONDS (the repo's time-series convention);
    // integer floor-div — a double `/` would round at 2^53.
    val win = TemporalJoins.floorDiv(tsCol.cast("long"), windowSec * 1000000L)
    val perWin = df.select((keys :+ win.as("graft_w")): _*)
      .groupBy((keys :+ col("graft_w")): _*)
      .agg(count(lit(1)).as("graft_c"))
    // Σc² accumulates in LONG (exact while a window holds < 3·10⁹ rows
    // and the square mass < 9·10¹⁸); the cross-products then take the
    // (18,0)×(19,0) decimal route — precision 38, never the lossy ≥39
    // adjustment.
    perWin.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_windows"),
        sum(col("graft_c")).as("n_events"),
        sum(col("graft_c") * col("graft_c")).as("graft_cc"))
      .select((keys :+ col("n_windows") :+ col("n_events") :+
        (dec(col("n_windows"), 18, 0) * dec(col("graft_cc"), 19, 0) -
          dec(col("n_events"), 18, 0) * dec(col("n_events"), 19, 0))
          .cast("decimal(38,0)").as("fano_num") :+
        (dec(col("n_windows"), 18, 0) * dec(col("n_events"), 19, 0))
          .cast("decimal(38,0)").as("fano_den")): _*)
      .withColumn("fano",
        when(col("fano_den") === 0, lit(null).cast("double"))
          .otherwise(exactDouble(col("fano_num")) / exactDouble(col("fano_den"))))
      .withColumn("fano_num", col("fano_num").cast("string"))
      .withColumn("fano_den", col("fano_den").cast("string"))
  }

  /** Per-key EXACT sample autocorrelation at lags 1..`maxLag` — the
    * seasonality/drift fingerprint of a metric stream (a near-1 r₁ says
    * the series trends, a spike at r_k says period k). The standard ACF
    *
    *   r_L = Σᵢ (vᵢ − v̄)(vᵢ₊L − v̄) / Σᵢ (vᵢ − v̄)²
    *
    * is a ratio of rationals, so it hash-gates through the repo's
    * integer-centering trick: with n and S = Σv per key, uᵢ = n·vᵢ − S is
    * an exact BIGINT and r_L = Σ uᵢuᵢ₊L / Σ uᵢ² EXACTLY (both sums scale
    * by n², which cancels). The products accumulate as (18,0)×(19,0)
    * DECIMALs — precision 38, int128 in DuckDB, never Spark's lossy ≥39
    * adjustment — and each r_L is one IEEE division of the two
    * digit-string-cast operands. Values quantize ONCE to e4 BIGINTs
    * (NULLs → 0), the [[cusum]] convention.
    *
    * Scale posture: one combiner-reduced per-key moment aggregate, the
    * (n, S) frame broadcast back, then ONE per-key window sort serving
    * every lead(u, L) (same partition + order ⇒ one exchange, one sort)
    * and one closing hash aggregate. Exactness bound: |u| ≤ n·|v|ₑ₄ must
    * fit 18 digits — at e4 quantization of |v| ≤ 10⁴ that is ~10¹⁰ rows
    * per key; quantize coarser beyond.
    *
    * Degenerate keys (constant series ⇒ zero denominator, or n ≤ L)
    * report NULL r_L; their pinned integer sums still gate. Output:
    * (keys…, n, acf_den, c1..c`maxLag`, r1..r`maxLag`), with the pinned
    * sums exposed as DIGIT STRINGS (not DECIMAL(38,0) — the r15 driver
    * drift type; see [[fanoFactor]]).
    */
  def acf(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: Column,
      tieCols: Seq[Column],
      valueCol: Column,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 16, s"maxLag must be in [1,16], got $maxLag")
    val keys = keyCols.map(col)
    val vq = (coalesce(valueCol, lit(0.0)).cast("decimal(18,4)") * 10000)
      .cast("long")
    val ord = orderCol.as("graft_o") +:
      tieCols.zipWithIndex.map { case (c, i) => c.as(s"graft_t$i") }
    val ordCols = ("graft_o" +: tieCols.indices.map(i => s"graft_t$i")).map(col)
    val base = df.select(keys ++ ord :+ vq.as("graft_v"): _*)
    val stats = base.groupBy(keys: _*)
      .agg(count(lit(1)).as("graft_n"), sum(col("graft_v")).as("graft_s"))
    val w = Window.partitionBy(keys: _*).orderBy(ordCols: _*)
    val withU = base.join(broadcast(stats), keyCols)
      .withColumn("graft_u", col("graft_n") * col("graft_v") - col("graft_s"))
    val withLeads = (1 to maxLag).foldLeft(withU) { (d, lag) =>
      d.withColumn(s"graft_u$lag", lead(col("graft_u"), lag).over(w))
    }
    val aggs =
      sum(dec(col("graft_u"), 18, 0) * dec(col("graft_u"), 19, 0)).as("acf_den") +:
        (1 to maxLag).map(lag =>
          coalesce(sum(dec(col("graft_u"), 18, 0) * dec(col(s"graft_u$lag"), 19, 0)),
            lit(0).cast("decimal(38,0)")).as(s"c$lag"))
    val agg = withLeads.groupBy(keys: _*)
      .agg(max(col("graft_n")).as("n"), aggs: _*)
    val withR = (1 to maxLag).foldLeft(agg) { (d, lag) =>
      d.withColumn(s"r$lag",
        when(col("acf_den") === 0 || col("n") <= lag,
          lit(null).cast("double"))
          .otherwise(exactDouble(col(s"c$lag")) / exactDouble(col("acf_den"))))
    }
    ("acf_den" +: (1 to maxLag).map(l => s"c$l")).foldLeft(withR) {
      (d, c) => d.withColumn(c, col(c).cast("string"))
    }
  }
}
