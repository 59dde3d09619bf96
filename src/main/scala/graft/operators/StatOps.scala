package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.meta.Ckpt.Syntax
import graft.Tables.{dec, exactDouble}

/** Distribution-level quality statistics for curation pipelines — the
  * z-score outlier screen every metrics/telemetry ingest runs before
  * training on the column.
  *
  * Determinism contract: moments are EXACT decimal sums (the value is
  * quantized to DECIMAL(18,4) once, then Σv and Σv² accumulate exactly, so
  * aggregation order cannot matter); the only doubles are a fixed chain of
  * exact-rounded casts, `+ − × /`, and `sqrt` — the one math function IEEE
  * 754 does bit-specify. A naive double `avg`/`stddev` would depend on
  * shuffle order and could not be hash-gated.
  *
  * Scale posture: one combiner-reduced aggregate per group (3 numbers of
  * state), broadcast back over the stream, salt-free per-group top-k window
  * over only the rows themselves.
  */
object StatOps {

  /** Top-`k` outliers per group, ranked by |z| descending (ties on `idCol`).
    * σ is the population standard deviation of the quantized values;
    * degenerate groups (σ = 0, e.g. a constant column) report z = 0 rather
    * than dividing by zero, and floating-point cancellation in
    * `E[x²] − E[x]²` is clamped at 0 before the sqrt.
    *
    * Output: (group, rnk 1..k, id, z).
    */
  def zscoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val vq = col(valueCol).cast("decimal(18,4)")
    val stats = df.groupBy(col(groupCol).as("graft_g"))
      .agg(count(lit(1)).as("n"), sum(vq).as("sv"), sum(vq * vq).as("svv"))
    val mean = col("sv").cast("double") / col("n")
    val variance = col("svv").cast("double") / col("n") - mean * mean
    val withSigma = stats.select(col("graft_g"), mean.as("mean"),
      sqrt(greatest(variance, lit(0.0))).as("sigma"))
    val z = when(col("sigma") === 0.0, lit(0.0))
      .otherwise((vq.cast("double") - col("mean")) / col("sigma"))
    val w = Window.partitionBy(col(groupCol)).orderBy(abs(col("z")).desc, col(idCol).asc)
    // Null-safe <=> (the temperatureSample convention): rows with a NULL
    // group key form their own group and stay in the output — a plain ===
    // would silently drop them (r15 ADVICE).
    df.join(broadcast(withSigma), col(groupCol) <=> col("graft_g"))
      .withColumn("z", z)
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("rnk"), col(idCol), col("z"))
  }

  /** Per-group Pearson correlation and sample covariance of two measures,
    * hash-gateable where the built-in `corr`/`covar_samp` are not: those
    * accumulate double moments whose value depends on aggregation order.
    * Here both measures quantize ONCE to DECIMAL(p, s) and the five moments
    * (Σx, Σy, Σx², Σy², Σxy) accumulate exactly; the closing formula
    *   r = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²) · √(n·Σy² − Σy²))
    * is then a fixed chain of exact-rounded casts and IEEE-specified
    * `+ − × / sqrt` — bit-identical across engines and partitionings.
    *
    * Degenerate groups (a zero-variance side) report a null correlation;
    * single-row groups report a null covariance. Precision headroom: the
    * cross-moments hold p+p+1 integer digits — at the default (18,4) a
    * trillion rows of 1e9-sized values still fit DECIMAL(38,8).
    *
    * Scale: one combiner-reduced hash aggregate per group, six numbers of
    * state — the same shape as [[zscoreOutliers]]'s moment pass.
    *
    * Output: (groupCols…, n, corr_xy, cov_samp).
    */
  def correlation(df: DataFrame, groupCols: Seq[String], xCol: String, yCol: String,
      precision: Int = 18, scale: Int = 4): DataFrame = {
    require(groupCols.nonEmpty, "correlation needs at least one group column")
    val x = col(xCol).cast(s"decimal($precision,$scale)")
    val y = col(yCol).cast(s"decimal($precision,$scale)")
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val nD = col("n").cast("double")
    val Seq(sx, sy, sxx, syy, sxy) =
      Seq("sx", "sy", "sxx", "syy", "sxy").map(c => exactDouble(col(c)))
    val num = nD * sxy - sx * sy
    // n·Σx² − (Σx)² is ≥ 0 exactly but computed in doubles: for a near-
    // constant column it can round to a tiny NEGATIVE, where sqrt yields
    // NaN and `=!= 0` stays true — clamp at 0 and gate on > 0 so the
    // degenerate-group contract (NULL, never NaN) actually holds.
    val den = sqrt(greatest(lit(0.0), nD * sxx - sx * sx)) *
      sqrt(greatest(lit(0.0), nD * syy - sy * sy))
    agg.select(groupCols.map(col) ++ Seq(col("n"),
      when(den > 0.0, num / den).as("corr_xy"),
      when(col("n") > 1, num / (nD * (nD - lit(1.0)))).as("cov_samp")): _*)
  }

  /** Per-group robust (median/MAD) outlier summary — the screen that
    * survives exactly the rows the z-score screen is broken by: a handful
    * of extreme values inflate mean and σ and mask themselves, while the
    * median and the median-absolute-deviation ignore them.
    *
    * Determinism: values quantize ONCE to integer `10^-scale` units via the
    * bit-specified IEEE chain `⌊v·10ˢ + 0.5⌋ AS BIGINT` — double multiply,
    * add, floor, all exactly reproducible in any IEEE-754 engine — and every
    * downstream step (medians, deviations, the cut) is exact BIGINT
    * arithmetic. An engine-native double→DECIMAL cast is deliberately
    * absent: its tie-rounding convention has differed across DuckDB
    * releases, which kept the decimal form of this gate red at the driver
    * while passing locally (rounds 9–10). Medians are DISCRETE
    * (`percentile_disc`, the smallest value with cumulative probability
    * ≥ ½ — both engines pick the lower middle, an actual data value, never
    * an interpolated average); the outlier rule `|v − med| · 2 > mad · 9`
    * is an exact integer-scaled cross-compare of the usual "robust z > 3"
    * cut (3/0.6745 ≈ 4.45 ≈ 9/2 MADs, the normal-consistency constant).
    * Exactness holds while `|v|·10ˢ` fits a 53-bit significand (|v| <
    * ~9·10¹¹ at scale 4; quantize coarser above that).
    *
    * Output: (grp, n, med, mad, n_outliers, max_dev) — med/mad/max_dev in
    * integer `10^-scale` units (BIGINT).
    *
    * Scale posture: three combiner-reduced group-keyed aggregates (median,
    * MAD, summary), each per-group stat broadcast back over the stream —
    * the value column itself is never re-shuffled, so the shape holds when
    * groups are billions of rows. `percentile_disc` does sort within
    * (group, partition) under the hood at this width; for a truly massive
    * single group swap in [[countingMedian]] — the two-pass histogram
    * form, same disc-median + decimal-exactness contract, only one bin's
    * slice ever sorts.
    */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 4): DataFrame = {
    val unit = math.pow(10.0, scale) // exact while scale ≤ 15
    val v = df.select(col(groupCol).as("grp"),
      floor(col(valueCol) * unit + 0.5).as("v"))
    val med = v.groupBy(col("grp"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("long").as("med"))
    val dev = v.join(broadcast(med), "grp")
      .select(col("grp"), col("v"), col("med"), abs(col("v") - col("med")).as("dev"))
    val mad = dev.groupBy(col("grp"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
        .cast("long").as("mad"))
    dev.join(broadcast(mad), "grp")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        min(col("med")).as("med"), // constant per group — min is just the
        min(col("mad")).as("mad"), // order-free way to carry it through

        sum(when(col("dev") * 2 > col("mad") * 9, 1L).otherwise(0L)).as("n_outliers"),
        max(col("dev")).as("max_dev"))
      .select(col("grp"), col("n"), col("med"), col("mad"),
        col("n_outliers"), col("max_dev"))
  }

  /** Per-group simple linear regression `y = slope·x + intercept` from the
    * same exact decimal moments as [[correlation]] — five exact sums close
    * into fixed double expressions, so the fitted line (and its R², which
    * is just the squared correlation) is hash-gateable where an
    * accumulate-in-doubles `regr_slope` could not be.
    *
    * Degenerate groups (zero x-variance) report null slope/intercept/r2.
    * Output: (groupCols…, n, slope, intercept, r2).
    */
  def linearFit(df: DataFrame, groupCols: Seq[String], xCol: String, yCol: String,
      precision: Int = 18, scale: Int = 4): DataFrame = {
    require(groupCols.nonEmpty, "linearFit needs at least one group column")
    val x = col(xCol).cast(s"decimal($precision,$scale)")
    val y = col(yCol).cast(s"decimal($precision,$scale)")
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val nD = col("n").cast("double")
    val Seq(sx, sy, sxx, syy, sxy) =
      Seq("sx", "sy", "sxx", "syy", "sxy").map(c => exactDouble(col(c)))
    val num = nD * sxy - sx * sy
    // Same rounding hazard as correlation's den: the exact value is ≥ 0, so
    // a negative double is pure cancellation noise from a (near-)constant
    // column — gate on > 0 so degenerate groups report NULL, not a
    // noise-sign slope/r2.
    val denX = nD * sxx - sx * sx
    val denY = nD * syy - sy * sy
    val slope = num / denX
    agg.select(groupCols.map(col) ++ Seq(col("n"),
      when(denX > 0.0, slope).as("slope"),
      when(denX > 0.0, (sy - slope * sx) / nD).as("intercept"),
      when(denX > 0.0 && denY > 0.0, num * num / (denX * denY)).as("r2")): _*)
  }

  /** Pearson χ² test of independence between two categorical columns — the
    * drift/association screen over a contingency table (is `lang`
    * independent of `source`?). Observed counts are exact integers; each
    * cell's `(o−e)²/e` is a fixed double expression over them; and the
    * cross-cell Σ — the one order-sensitive double reduction — runs as a
    * SORTED fold over the collected cells (the [[VectorOps.rrfFuse]]
    * convention), so χ² is deterministic and hash-gateable.
    *
    * Contract: the CELL COUNT (|A|·|B|) is bounded — the cells collect into
    * one array for the fold. The input itself never does: cells come from
    * one combiner-reduced count aggregate; totals are aggregates OF the
    * cells, broadcast back.
    *
    * Output: ONE row (n, n_a, n_b, dof, chi2).
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chiSquareFromCounts(
      df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
        .agg(count(lit(1)).as("o")),
      "a", "b", "o")

  /** [[chiSquare]] over PRE-AGGREGATED (a, b, count) contingency cells —
    * the formula half, split out for the streaming monitors (the
    * [[graft.operators.GovernanceOps.tClosenessFromCounts]] /
    * [[ksDriftFromCounts]] pattern): keyed stream state emits per-a
    * b→count maps, this computes the cross-cell statistic batch-side,
    * and the batch gate's oracle gates both. At most one row per (a, b)
    * is assumed. NOTE the cross-cell sum is a SORTED fold over the
    * (a, b) STRING order — a stream twin must reconstruct the exact
    * category strings (not surrogate codes) or the fold order, and with
    * it the IEEE sum, can differ.
    */
  def chiSquareFromCounts(counts: DataFrame, aCol: String, bCol: String,
      cntCol: String): DataFrame = {
    val cells = counts.select(col(aCol).as("a"), col(bCol).as("b"),
      col(cntCol).cast("long").as("o"))
    val rowT = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val colT = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("n_a"), countDistinct(col("b")).as("n_b"))
    val e = col("ra").cast("double") * col("cb").cast("double") / col("n").cast("double")
    val od = col("o").cast("double")
    val term = (od - e) * (od - e) / e
    cells
      .join(broadcast(rowT), "a").join(broadcast(colT), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), term.as("term"), col("n"), col("n_a"), col("n_b"))
      .groupBy(col("n"), col("n_a"), col("n_b"))
      .agg(aggregate(sort_array(collect_list(struct(col("a"), col("b"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"))
      .select(col("n"), col("n_a"), col("n_b"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"), col("chi2"))
  }

  /** Clamped integer bin index shared by the histogram passes. */
  private def binOf(df: DataFrame, valueCol: String, scale: Int,
      loI: Long, hiI: Long, binW: Long, nBins: Int): Column = {
    val unit = BigDecimal(10).pow(scale).toLong
    val vi = (col(valueCol).cast(s"decimal(18,$scale)") * unit).cast("long")
    when(vi < loI, lit(0L))
      .when(vi >= hiI, lit((nBins - 1).toLong))
      .otherwise(TemporalJoins.floorDiv(vi - loI, binW))
  }

  /** Two-pass EXACT counting median — the documented swap-in for
    * `percentile_disc` when a single group is too massive to sort
    * ([[robustOutliers]]/[[columnProfile]] scaladoc): pass 1 aggregates the
    * fixed-range histogram ([[histogramQuantiles]]'s binning, ≤ `nBins`
    * counters per group) and locates each group's MEDIAN BIN plus the
    * median's rank within it; pass 2 sorts ONLY the rows of that one bin
    * (broadcast-joined selection) and picks the ranked value. The answer
    * equals `percentile_disc(0.5)` of the DECIMAL-quantized values exactly
    * — same lower-middle discrete convention — but the only sort touches a
    * single bin's slice per group, not the group.
    *
    * The range contract is softer than a quantile ESTIMATE's: values
    * outside [lo, hi) clamp into the edge bins and the median is STILL
    * exact (the slice sort sees the true values); a poorly chosen range
    * only loses the bounded-slice guarantee, never correctness.
    *
    * Output: (grp, n, med DECIMAL(18,scale)).
    */
  def countingMedian(
      df: DataFrame, groupCol: String, valueCol: String,
      lo: BigDecimal, hi: BigDecimal, nBins: Int, scale: Int = 4): DataFrame = {
    require(nBins >= 1, "need at least one bin")
    val unit = BigDecimal(10).pow(scale)
    val loI = (lo * unit).toLongExact
    val hiI = (hi * unit).toLongExact
    val span = hiI - loI
    require(span > 0 && span % nBins == 0,
      s"span $span must be positive and divide evenly into $nBins bins")
    val binW = span / nBins
    val bin = binOf(df, valueCol, scale, loI, hiI, binW, nBins)
    val vq = col(valueCol).cast(s"decimal(18,$scale)")
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), bin.as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // smallest bin whose cumulative count covers rank ⌈n/2⌉, plus the
    // count before it — min over a struct led by the bin index
    val sel = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("grp"))))
      .groupBy(col("grp"))
      .agg(min(when(col("cum") * 2 >= col("n"),
        struct(col("bin"), (col("cum") - col("cnt")).as("before"), col("n")))).as("m"))
      .select(col("grp"), col("m.bin").as("med_bin"),
        // 1-based rank within the median bin: ⌈n/2⌉ − before
        (TemporalJoins.floorDiv(col("m.n") + 1, 2L) - col("m.before")).as("k"),
        col("m.n").as("n"))
    val slice = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), bin.as("bin"), vq.as("graft_vq"))
      .join(broadcast(sel.withColumnRenamed("grp", "graft_selg")),
        col("bin") === col("med_bin") && col("grp") === col("graft_selg"))
    val w = Window.partitionBy(col("grp")).orderBy(col("graft_vq"))
    slice.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === col("k"))
      .select(col("grp"), col("n"), col("graft_vq").as("med"))
  }

  /** [[countingMedian]] over a PRE-SCALED integer value column — the
    * cross-engine-gateable form: the caller quantizes once via the IEEE
    * chain `⌊v·10ˢ + 0.5⌋` (exactly reproducible in any IEEE-754 engine,
    * unlike an engine-native double→DECIMAL cast, whose tie rounding has
    * drifted across DuckDB releases) and every downstream step here is
    * exact BIGINT arithmetic. Same two-pass histogram plan as
    * [[countingMedian]]: only the median bin's slice ever sorts; values
    * outside [loI, hiI) clamp into the edge bins and the median is still
    * exact. Output: (grp, n, med BIGINT in the caller's scaled units).
    */
  def countingMedianLong(df: DataFrame, groupCol: String, valueCol: String,
      loI: Long, hiI: Long, nBins: Int): DataFrame = {
    require(nBins >= 1, "need at least one bin")
    val span = hiI - loI
    require(span > 0 && span % nBins == 0,
      s"span $span must be positive and divide evenly into $nBins bins")
    val binW = span / nBins
    val vi = col(valueCol).cast("long")
    val bin = when(vi < loI, lit(0L))
      .when(vi >= hiI, lit((nBins - 1).toLong))
      .otherwise(TemporalJoins.floorDiv(vi - loI, binW))
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), bin.as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sel = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("grp"))))
      .groupBy(col("grp"))
      .agg(min(when(col("cum") * 2 >= col("n"),
        struct(col("bin"), (col("cum") - col("cnt")).as("before"), col("n")))).as("m"))
      .select(col("grp"), col("m.bin").as("med_bin"),
        (TemporalJoins.floorDiv(col("m.n") + 1, 2L) - col("m.before")).as("k"),
        col("m.n").as("n"))
    val slice = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), bin.as("bin"), vi.as("graft_vi"))
      .join(broadcast(sel.withColumnRenamed("grp", "graft_selg")),
        col("bin") === col("med_bin") && col("grp") === col("graft_selg"))
    val w = Window.partitionBy(col("grp")).orderBy(col("graft_vi"))
    slice.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === col("k"))
      .select(col("grp"), col("n"), col("graft_vi").as("med"))
  }

  /** Null imputation by per-group discrete median — the standard robust
    * fill for a measure column before training/aggregation. Non-null values
    * pass through BIT-UNCHANGED; nulls take their group's
    * [[robustOutliers]]-style median (quantized once to DECIMAL(18,4),
    * `percentile_disc` so the fill is an actual observed value, cast back
    * to double — exact while |v|·10⁴ fits 53 bits). A group with no
    * non-null values leaves its nulls in place, flagged un-imputed.
    *
    * Non-destructive: appends `<valueCol>_filled` and `was_imputed` to the
    * input columns.
    *
    * Scale: one group-keyed median aggregate, broadcast back over the
    * stream — the measure column never re-shuffles.
    */
  def imputeMedian(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile_disc(0.5) WITHIN GROUP " +
        s"(ORDER BY CAST($valueCol AS DECIMAL(18,4)))")
        .cast("decimal(18,4)").as("graft_med"))
    df.join(broadcast(med), Seq(groupCol), "left")
      .withColumn(s"${valueCol}_filled",
        coalesce(col(valueCol).cast("double"), col("graft_med").cast("double")))
      .withColumn("was_imputed",
        col(valueCol).isNull && col("graft_med").isNotNull)
      .drop("graft_med")
  }

  /** Histogram-sketch quantiles — the bounded-state alternative to
    * [[RelationalQueries]]' exact `percentile_disc` gates: an exact
    * percentile SORTS each group's full value set, while a fixed-range
    * histogram aggregates into `nBins` counters and reads every requested
    * quantile off the cumulative counts. The answer is the containing BIN
    * (its `[lo_edge, hi_edge)` range), i.e. error bounded by the bin width
    * — the classic telemetry/latency-percentile trade at scale.
    *
    * Everything is INTEGER arithmetic, which is what makes an approximate
    * quantile gateable at all: values quantize once to `scale` decimal
    * places, bin indices are floor-divisions of exact longs (callers pick
    * `lo`/`hi`/`nBins` with `span % nBins == 0`, enforced, so bin edges are
    * exact), out-of-range values clamp to the edge bins, and each quantile
    * threshold is `⌈n·num/den⌉` in exact longs. The only doubles are the
    * final single-division edge renderings.
    *
    * Scale: one combiner-reduced hash aggregate (≤ `nBins` counters per
    * group), one tiny per-group window over the histogram, never a sort of
    * the data itself.
    *
    * Output: (grp, q_num, q_den, bin, lo_edge, hi_edge, n).
    */
  def histogramQuantiles(
      df: DataFrame, groupCol: String, valueCol: String,
      lo: BigDecimal, hi: BigDecimal, nBins: Int, qs: Seq[(Int, Int)],
      scale: Int = 4): DataFrame = {
    require(nBins >= 1 && qs.nonEmpty, "need at least one bin and one quantile")
    require(qs.forall { case (n, d) => n >= 0 && n <= d && d > 0 },
      s"quantiles must be fractions in [0, 1]: $qs")
    val unit = BigDecimal(10).pow(scale)
    val loI = (lo * unit).toLongExact
    val hiI = (hi * unit).toLongExact
    val span = hiI - loI
    require(span > 0, s"hi must exceed lo, got [$lo, $hi]")
    require(span % nBins == 0,
      s"span $span must divide evenly into $nBins bins for exact edges")
    val binW = span / nBins
    val bin = binOf(df, valueCol, scale, loI, hiI, binW, nBins)
    // Nulls carry no rank: an unfiltered null value would become a null bin
    // that sorts FIRST in the cumulative window and silently shift every
    // quantile toward lower bins (same contract as countingMedian).
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), bin.as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("grp"))))
    val qArr = array(qs.map { case (n, d) =>
      struct(lit(n).as("q_num"), lit(d).as("q_den")) }: _*)
    cum.select(col("grp"), col("bin"), col("cum"), col("n"),
        explode(qArr).as("q"))
      .filter(col("cum") * col("q.q_den") >= col("n") * col("q.q_num"))
      .groupBy(col("grp"), col("q.q_num").as("q_num"), col("q.q_den").as("q_den"))
      .agg(min(col("bin")).as("bin"), first(col("n")).as("n"))
      .select(col("grp"), col("q_num"), col("q_den"), col("bin"),
        ((lit(loI) + col("bin") * binW).cast("double") / unit.toDouble).as("lo_edge"),
        ((lit(loI) + (col("bin") + 1) * binW).cast("double") / unit.toDouble).as("hi_edge"),
        col("n"))
  }

  /** Single-pass column profile — the `ANALYZE TABLE` stats-collection
    * primitive a 100 TB ingest runs before anything else: per column, the
    * row count, null count, EXACT distinct count, and min/max (rendered as
    * strings so heterogeneous columns share one long-format output row
    * shape; pre-cast doubles to a fixed decimal upstream for engine-stable
    * rendering). Output: one row per profiled column —
    * `(col_name, n_rows, n_null, n_distinct, min_val, max_val)`.
    *
    * Scale: ONE aggregate job over the table. The k exact distinct counts
    * plan as Spark's Expand (each input row fans out k+1 ways before the
    * combiner) — one scan, no joins; at extreme width or cardinality swap
    * the exact count for the O(k)-state [[graft.functions.KmvSketch]]
    * ([[Sketches]]) column by column.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"__cnt_$c"),
      count_distinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = cols.map { c => struct(
      lit(c).as("col_name"), col("__n").as("n_rows"),
      (col("__n") - col(s"__cnt_$c")).as("n_null"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__min_$c").as("min_val"), col(s"__max_$c").as("max_val"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Per-group EXACT Kendall tau-b — the rank correlation that validates a
    * quality score against a gold signal without assuming linearity (the
    * check [[correlation]]'s Pearson r cannot make when the relationship is
    * monotone but curved). All five pair classes are exact longs; tau_b is
    * a fixed chain of exact-rounded casts, `− × /` and the bit-specified
    * IEEE `sqrt`, so the statistic itself hash-gates:
    *
    *   τ_b = (nc − nd) / √((T − tx)·(T − ty)),   T = n(n−1)/2
    *
    * The naive formulation is an all-pairs self-join (Θ(n²) rows shuffled —
    * dead at corpus scale) or a per-group sort + merge count (one task per
    * group — dead for a hot group). This one decomposes the discordant
    * count by a VALUE-RANGE GRID, the way the repo's set-similarity joins
    * decompose candidate generation:
    *
    *  1. per group, x and y each split into `buckets` equal-width value
    *     ranges (disjoint intervals, so bucket order implies strict value
    *     order across buckets);
    *  2. pairs in different x AND different y buckets are decided by the
    *     bucket HISTOGRAM alone — ≤ buckets² aggregate cells per group,
    *     never data rows;
    *  3. pairs sharing an x bucket are counted exactly inside that bucket
    *     (a Fenwick sweep, O(m log m) on the bucket's m rows); pairs
    *     sharing a y bucket but not an x bucket likewise, as the bucket's
    *     total minus its per-x-bucket within counts.
    *
    * Every task therefore touches one (group, bucket) slice — ~n/buckets
    * rows under a benign distribution — and the exact counts are invariant
    * to the bucket boundaries, so boundary arithmetic only balances load
    * (heavy value skew ⇒ raise `buckets` or pre-quantize; correctness is
    * unaffected). Ties, the tie classes, and n are plain combiner-reduced
    * aggregates. The group-ranges frame is broadcast (one row per group —
    * per-group statistics presume modest group cardinality).
    *
    * Rows with a NULL or NaN measure are excluded (a missing measure has no
    * rank). Overflow: pair counts are Θ(n²) per group, exact in longs to
    * ~3·10⁹ rows per group (the [[EvalOps.rocAuc]] bound). Degenerate
    * groups (n < 2, or a constant side — T = tx or T = ty) report NULL
    * tau_b rather than 0/0.
    *
    * Output: (group, n, nc, nd, tx, ty, txy, tau_b) — concordant,
    * discordant, x-tied, y-tied, both-tied pair counts; one row per group.
    * The group column is carried as STRING (cast once at entry); pack
    * multi-column groups into one column upstream.
    */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String, yCol: String,
      buckets: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    // Both frames materialize ONCE (lazy checkpoint, the
    // CorpusOps.tokenBudgetMix convention): `base` feeds the ranges
    // aggregate and the bucket join, and `b` feeds SIX consumers (the
    // cross histogram, both Fenwick sweeps, n, and the tie aggregates) —
    // without the cuts every consumer re-ran the caller's full corpus
    // scan + measure expressions (~9 evaluations, 20 parquet scans
    // measured in the r21 q_kendall_tau plan). Both frames are narrow
    // (3–5 scalar columns), never the caller's payload.
    val base = df.select(col(groupCol).cast("string").as("g"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        !isnan(col("x")) && !isnan(col("y")))
      .ckptLazy
    val ranges = base.groupBy(col("g")).agg(
      min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    // Equal-width value buckets: monotone in the value and value-disjoint
    // across ids, so bucket(i) < bucket(j) ⇒ value(i) < value(j) strictly.
    def bkt(v: Column, lo: Column, hi: Column): Column =
      when(hi === lo, lit(0)).otherwise(least(lit(buckets - 1),
        floor((v - lo) / (hi - lo) * buckets).cast("int")))
    val b = base.join(broadcast(ranges), Seq("g"))
      .select(col("g"), col("x"), col("y"),
        bkt(col("x"), col("xmin"), col("xmax")).as("bx"),
        bkt(col("y"), col("ymin"), col("ymax")).as("by"))
      .ckptLazy
    val rows = b.as[(String, Double, Double, Int, Int)]

    // Pair class A — different x bucket AND different y bucket: decided by
    // the histogram alone (≤ buckets² cells per group, not data rows).
    val cross = b.groupBy(col("g"), col("bx"), col("by"))
      .agg(count(lit(1)).as("cnt"))
      .as[(String, Int, Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        val cells = it.toArray
        var s = 0L
        var i = 0
        while (i < cells.length) {
          var j = 0
          while (j < cells.length) {
            if (cells(i)._2 < cells(j)._2 && cells(i)._3 > cells(j)._3)
              s += cells(i)._4 * cells(j)._4
            j += 1
          }
          i += 1
        }
        (g, s)
      }.toDF("g", "nd_cross")

    // Pair class B — same x bucket (any y): exact Fenwick sweep per
    // (group, x-bucket) slice.
    val sameX = rows.groupByKey(r => (r._1, r._4))
      .mapGroups { (key: (String, Int), it: Iterator[(String, Double, Double, Int, Int)]) =>
        (key._1, discordantPairs(it.map(r => (r._2, r._3)).toArray))
      }.toDF("g", "c")
      .groupBy(col("g")).agg(sum(col("c")).as("nd_samex"))

    // Pair class C — same y bucket, DIFFERENT x bucket: the y-bucket
    // slice's total discordant count minus its per-x-bucket within counts
    // (those pairs are class B's).
    val sameY = rows.groupByKey(r => (r._1, r._5))
      .mapGroups { (key: (String, Int), it: Iterator[(String, Double, Double, Int, Int)]) =>
        val arr = it.toArray
        val all = discordantPairs(arr.map(r => (r._2, r._3)))
        val within = arr.groupBy(_._4).valuesIterator
          .map(sub => discordantPairs(sub.map(r => (r._2, r._3)))).sum
        (key._1, all - within)
      }.toDF("g", "c")
      .groupBy(col("g")).agg(sum(col("c")).as("nd_samey"))

    // Ties and n: combiner-reduced aggregates, read off the checkpointed
    // bucket frame — `b` is an inner broadcast-join of `base` against its
    // own per-group ranges, so it holds exactly base's rows and the
    // aggregates are unchanged (r21: they used to re-derive `base`).
    val nAgg = b.groupBy(col("g")).agg(count(lit(1)).as("n"))
    def tiePairs(cs: Seq[String], name: String) =
      b.groupBy(("g" +: cs).map(col): _*).agg(count(lit(1)).as("c"))
        .groupBy(col("g"))
        .agg(expr("sum(c * (c - 1)) div 2").cast("long").as(name))

    val joined = nAgg
      .join(tiePairs(Seq("x"), "tx"), Seq("g"), "left")
      .join(tiePairs(Seq("y"), "ty"), Seq("g"), "left")
      .join(tiePairs(Seq("x", "y"), "txy"), Seq("g"), "left")
      .join(cross, Seq("g"), "left")
      .join(sameX, Seq("g"), "left")
      .join(sameY, Seq("g"), "left")
      .na.fill(0L, Seq("tx", "ty", "txy", "nd_cross", "nd_samex", "nd_samey"))
    val tAll = expr("n * (n - 1) div 2")
    val nd = col("nd_cross") + col("nd_samex") + col("nd_samey")
    joined.select(
      col("g").as(groupCol), col("n"),
      (tAll - nd - (col("tx") + col("ty") - col("txy"))).as("nc"),
      nd.as("nd"), col("tx"), col("ty"), col("txy"),
      when(tAll - col("tx") === 0L || tAll - col("ty") === 0L,
        lit(null).cast("double"))
        .otherwise((tAll - nd - (col("tx") + col("ty") - col("txy")) - nd)
          .cast("double") /
          sqrt((tAll - col("tx")).cast("double") *
            (tAll - col("ty")).cast("double"))).as("tau_b"))
  }

  /** Per-group MIN-MAX feature scaling to [0, 1] — the normalization
    * every score-fusion / model-input stage runs: scaled = (v − min) /
    * (max − min) with the group's own bounds. Every output double is a
    * fixed IEEE chain (exact min/max aggregates, one subtract, one
    * divide), so the scaled column itself hash-gates. Constant groups
    * (max = min) scale to 0.0 (the sklearn convention); NULL values
    * pass through NULL. One per-group bounds aggregate broadcast back —
    * the value stream itself never shuffles. Rows with a NULL group key
    * form their own group (null-safe <=> join, the temperatureSample
    * convention) so "the input plus scaled column" holds row-for-row.
    *
    * Output: the input plus `scaled` DOUBLE.
    */
  def minMaxScale(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val b = df.groupBy(col(groupCol).as("graft_g"))
      .agg(min(col(valueCol)).as("graft_lo"), max(col(valueCol)).as("graft_hi"))
    df.join(broadcast(b), col(groupCol) <=> col("graft_g"))
      .withColumn("scaled",
        when(col(valueCol).isNull, lit(null).cast("double"))
          .when(col("graft_hi") === col("graft_lo"), lit(0.0))
          .otherwise((col(valueCol).cast("double") - col("graft_lo").cast("double")) /
            (col("graft_hi").cast("double") - col("graft_lo").cast("double"))))
      .drop("graft_g", "graft_lo", "graft_hi")
  }

  /** Per-group exact MODE with a deterministic tie-break (the SMALLEST
    * value among the most frequent) — the last of the location trio next
    * to [[countingMedian]] and [[trimmedMean]], and the one SQL's
    * `mode()` cannot hash-gate (its tie choice is engine-defined). One
    * combiner-reduced (group, value) count, then one struct-argmax
    * aggregate over LEVEL rows — no window, no sort. Values must be
    * integral (exact equality is the grouping key; quantize doubles
    * upstream, the [[robustOutliers]] chain).
    *
    * Output: (group, mode_value, mode_count, n, n_distinct).
    */
  def mode(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("g"))
      .agg(
        max(struct(col("c"), (lit(-1L) * col("v")).as("nv"))).as("m"),
        sum(col("c")).as("n"),
        count(lit(1)).as("n_distinct"))
      .select(col("g").as(groupCol),
        (lit(-1L) * col("m.nv")).as("mode_value"),
        col("m.c").as("mode_count"),
        col("n"), col("n_distinct"))
  }

  /** Pairwise Pearson CORRELATION MATRIX over `cols` — the feature-drift
    * screen run over a metrics table before anyone trusts a composite
    * score: every off-diagonal r from ONE moment pass. [[correlation]]'s
    * exact-decimal contract, widened: the single aggregate carries n,
    * k decimal sums, k decimal square-sums, and C(k,2) decimal
    * cross-sums — one combiner-reduced scan however many columns — and
    * each r closes with the identical digit-string/sqrt chain, so the
    * whole matrix hash-gates. Output long-form (col_x < col_y), one row
    * per pair: (col_x, col_y, n, corr_xy); degenerate (zero-variance)
    * sides give NULL.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
      precision: Int = 18, scale: Int = 4): DataFrame = {
    require(cols.size >= 2, s"need at least two columns, got $cols")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    def q(c: String) = col(c).cast(s"decimal($precision,$scale)")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs =
      cols.map(c => sum(q(c)).as(s"s_$c")) ++
        cols.map(c => sum(q(c) * q(c)).as(s"ss_$c")) ++
        pairs.map { case (a, b) => sum(q(a) * q(b)).as(s"sx_${a}_$b") }
    val m = df.agg(count(lit(1)).as("n"), aggs: _*)
    val nD = col("n").cast("double")
    val rows = pairs.map { case (a, b) =>
      val Seq(sa, sb, ssa, ssb, sab) =
        Seq(s"s_$a", s"s_$b", s"ss_$a", s"ss_$b", s"sx_${a}_$b").map(c => exactDouble(col(c)))
      val num = nD * sab - sa * sb
      val den = sqrt(greatest(lit(0.0), nD * ssa - sa * sa)) *
        sqrt(greatest(lit(0.0), nD * ssb - sb * sb))
      struct(lit(a).as("col_x"), lit(b).as("col_y"), col("n").as("n"),
        when(den > 0.0, num / den).as("corr_xy"))
    }
    m.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Per-group 2-D DENSITY GRID — the heatmap behind every
    * length-vs-quality / size-vs-score profiling plot: equal-width value
    * buckets on each axis (the [[kendallTau]] bucketing — monotone,
    * value-disjoint, data-derived min/max), exact integer cell counts.
    * The bucket arithmetic is a fixed IEEE chain (subtract, divide,
    * multiply, floor, clamp — all bit-specified), and min/max aggregates
    * are exact on doubles, so the cell assignment itself reproduces
    * across engines and the grid hash-gates.
    *
    * Scale posture: one per-group min/max aggregate broadcast back, one
    * combiner-reduced (group, bx, by) count — output ≤ B² cells per
    * group, never data rows. NULL/NaN measures excluded.
    *
    * Output: (group, bx, by, n) — occupied cells only.
    */
  def hist2d(df: DataFrame, groupCol: String, xCol: String, yCol: String,
      bucketsX: Int = 8, bucketsY: Int = 8): DataFrame = {
    require(bucketsX >= 1 && bucketsY >= 1,
      s"bucket counts must be >= 1, got ($bucketsX, $bucketsY)")
    val base = df.select(col(groupCol).as("g"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        !isnan(col("x")) && !isnan(col("y")))
    val ranges = base.groupBy(col("g")).agg(
      min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    def bkt(v: Column, lo: Column, hi: Column, b: Int): Column =
      when(hi === lo, lit(0)).otherwise(least(lit(b - 1),
        floor((v - lo) / (hi - lo) * b).cast("int")))
    base.join(broadcast(ranges), Seq("g"))
      .select(col("g"),
        bkt(col("x"), col("xmin"), col("xmax"), bucketsX).as("bx"),
        bkt(col("y"), col("ymin"), col("ymax"), bucketsY).as("by"))
      .groupBy(col("g"), col("bx"), col("by"))
      .agg(count(lit(1)).as("n"))
      .withColumnRenamed("g", groupCol)
  }

  /** Per-group EXACT trimmed mean — the robust location estimate between
    * [[robustOutliers]]'s median and the plain mean: drop the lowest and
    * highest ⌊n·trimNum/trimDen⌋ values, average the middle. The screen
    * for "mean latency excluding the tails" / "mean quality score without
    * the spam spikes".
    *
    * Exact by LEVEL-RANGE arithmetic: values quantize ONCE to integer
    * `10^-scale` units (the [[robustOutliers]] IEEE chain), each (group,
    * value) LEVEL carries its count m and cumulative predecessor count
    * cum, and the level's contribution to the trimmed window
    * [lo, hi) = [⌊n·p⌋, n − ⌊n·p⌋) is the interval overlap
    * max(0, min(cum+m, hi) − max(cum, lo)) — pure integers, so the
    * trimmed sum is an exact DECIMAL product sum and the mean ONE IEEE
    * division. No data-row sort: the window runs over value-LEVEL rows
    * (the [[EvalOps.rocAuc]] shape).
    *
    * Output: (group, n, n_kept, trim_sum — integer 10^-scale units as a
    * DIGIT STRING, trimmed_mean — in original units). Groups trimmed to
    * nothing (n ≤ 2·⌊n·p⌋) report NULL mean. Requires trimNum/trimDen
    * < 1/2. The pin is exposed as its canonical digit string, not a
    * DECIMAL(38,0): width-38 decimal output columns are the one type the
    * two engines' hashers disagreed on (r15 driver drift — the third
    * oracle-environment type hop after r10's quantile and float-render
    * families); the decimal→VARCHAR cast is bit-specified on both.
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      trimNum: Int, trimDen: Int, scale: Int = 4): DataFrame = {
    require(trimNum >= 0 && trimDen > 0 && 2 * trimNum < trimDen,
      s"need 0 <= trimNum/trimDen < 1/2, got $trimNum/$trimDen")
    val unit = math.pow(10.0, scale) // exact while scale <= 15
    val base = df.select(col(groupCol).as("grp"),
        floor(col(valueCol) * unit + 0.5).cast("long").as("v"))
      .where(col("v").isNotNull)
    val byV = base.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("grp"))
    val lvl = byV
      .withColumn("cum", coalesce(sum(col("m")).over(w), lit(0L)))
      .withColumn("n", sum(col("m")).over(wAll))
    val lo = expr(s"n * $trimNum div $trimDen")
    val hi = col("n") - lo
    val keep = greatest(lit(0L),
      least(col("cum") + col("m"), hi) - greatest(col("cum"), lo))
    lvl.withColumn("keep", keep)
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        sum(col("keep")).as("n_kept"),
        sum(dec(col("keep"), 18, 0) * dec(col("v"), 19, 0)).cast("decimal(38,0)")
          .as("trim_sum"))
      .select(col("grp").as(groupCol), col("n"), col("n_kept"),
        col("trim_sum").cast("string").as("trim_sum"),
        when(col("n_kept") === 0L, lit(null).cast("double"))
          .otherwise(exactDouble(col("trim_sum")) /
            (col("n_kept").cast("double") * lit(unit))).as("trimmed_mean"))
  }

  /** Per-group EXACT Spearman's rho with midrank ties — the other rank
    * correlation next to [[kendallTau]] (ρ weighs rank DISPLACEMENT,
    * τ counts pair inversions; both are monotone-association checks
    * Pearson r cannot make). Hash-gateable through two exact moves:
    *
    *  1. DOUBLED MIDRANKS from value-LEVEL aggregates (the
    *     [[EvalOps.rocAuc]] construction): a level of m rows preceded by
    *     cum rows has midrank2 = 2·cum + m + 1 — integral, windowed over
    *     level rows only, never data rows;
    *  2. INTEGER CENTERING: Σ midrank2 = n(n+1) exactly (ties included),
    *     so u = midrank2 − (n+1) centers to Σu = 0 in integers and
    *     ρ = Σuₓu_y / √(Σuₓ²·Σu_y²) — the n factors cancel, products
    *     accumulate as (18,0)×(19,0) DECIMALs (|u| ≤ n ⇒ exact to
    *     ~10¹² rows per group), and ρ is one fixed cast/×/√/÷ chain.
    *
    * Scale posture: two level-keyed aggregates + windows over LEVEL rows,
    * two level-keyed equi-joins back to the stream, one closing hash
    * aggregate. NULL/NaN measures are excluded (no rank). Degenerate
    * groups (a constant side ⇒ zero variance, or n < 2) report NULL rho;
    * the pinned decimal sums still gate.
    *
    * Output: (group, n, sxy, sxx, syy, rho), one row per group.
    */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("g"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        !isnan(col("x")) && !isnan(col("y")))
    val nAgg = base.groupBy(col("g")).agg(count(lit(1)).as("n"))
    def midranks(vc: String): DataFrame = {
      val byV = base.groupBy(col("g"), col(vc)).agg(count(lit(1)).as("m"))
      val w = Window.partitionBy(col("g")).orderBy(col(vc).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      byV.withColumn("cum", coalesce(sum(col("m")).over(w), lit(0L)))
        .select(col("g"), col(vc),
          (lit(2L) * col("cum") + col("m") + 1L).as(s"r2_$vc"))
    }
    val joined = base
      .join(midranks("x"), Seq("g", "x"))
      .join(midranks("y"), Seq("g", "y"))
      .join(broadcast(nAgg), Seq("g"))
      .select(col("g"), col("n"),
        (col("r2_x") - (col("n") + 1L)).as("ux"),
        (col("r2_y") - (col("n") + 1L)).as("uy"))
    joined.groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        sum(dec(col("ux"), 18, 0) * dec(col("uy"), 19, 0)).cast("decimal(38,0)").as("sxy"),
        sum(dec(col("ux"), 18, 0) * dec(col("ux"), 19, 0)).cast("decimal(38,0)").as("sxx"),
        sum(dec(col("uy"), 18, 0) * dec(col("uy"), 19, 0)).cast("decimal(38,0)").as("syy"))
      .select(col("g").as(groupCol), col("n"),
        // Pins exposed as digit strings, not DECIMAL(38,0) — see
        // [[trimmedMean]]'s r15 drift note.
        col("sxy").cast("string").as("sxy"),
        col("sxx").cast("string").as("sxx"),
        col("syy").cast("string").as("syy"),
        when(col("sxx") === 0 || col("syy") === 0, lit(null).cast("double"))
          .otherwise(exactDouble(col("sxy")) /
            sqrt(exactDouble(col("sxx")) * exactDouble(col("syy")))).as("rho"))
  }

  /** Per-group two-sample KOLMOGOROV–SMIRNOV drift of an integral measure
    * against the REST of the data: D_g = max_v |F_g(v) − F_rest(v)| — the
    * distribution-shape companion to [[graft.operators.CorpusOps
    * .tokenDrift]]'s token-mix TVD (drift in doc length / score / latency
    * SHAPE that a mean-shift monitor misses). Exact and hash-gateable
    * because every CDF is a ratio of integer cumulative counts:
    *
    *   D_g = max_v |cum_g(v)·(N−n_g) − (cum_all(v)−cum_g(v))·n_g|
    *         / (n_g·(N−n_g))
    *
    * with the numerator accumulated as (18,0)×(19,0) DECIMAL products and
    * the division one IEEE op over digit-string-cast operands.
    *
    * Scale posture: the max must be probed at every distinct LEVEL of
    * either side, so the plan materializes the |groups|·|levels| dense
    * grid (one crossJoin of the per-group count table with the value-level
    * table) and runs one window per group over LEVEL rows — bounded by the
    * quantized value domain, never data rows; quantize coarser when the
    * domain is wide (the [[robustOutliers]] ⌊v·10^s+0.5⌋ chain).
    *
    * The quantization burden is ENFORCED, not advisory (r16 VERDICT —
    * the [[Skyline.skylineGridMin]] bounded-grid precedent): one cheap
    * 2-value aggregate counts |groups| and |levels| first and the call
    * fails loudly when their product exceeds `maxGridCells` — otherwise
    * an unquantized DOUBLE-as-LONG domain would silently build a dense
    * grid of data-row order.
    *
    * Output: (group, n, n_rest, ks_num — digit string, ks); single-group
    * inputs (n_rest = 0) report NULL ks with a zero pin.
    */
  def ksDrift(df: DataFrame, groupCol: String, valueCol: String,
      maxGridCells: Long = 10000000L): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull)
    ksDriftFromCounts(
      base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")),
      "g", "v", "c", maxGridCells)
      .withColumnRenamed("g", groupCol)
  }

  /** [[ksDrift]] over PRE-AGGREGATED (group, value, count) rows — the
    * formula half of the operator, split out so a STREAMING monitor can
    * feed it the value→count maps its keyed state emitted at the
    * watermark ([[graft.streaming.EventStreams.valueCountsExact]]; the
    * rest-of-data CDF is a cross-GROUP quantity no keyed state can see,
    * so the closing comparison runs batch-side over the emitted counts —
    * the [[graft.operators.GovernanceOps.tClosenessFromCounts]] pattern).
    * The batch operator is `groupBy(g, v).count` composed with this; one
    * oracle gates both. At most one row per (group, value) is assumed
    * (the aggregate's contract); NULL values are dropped, matching the
    * batch operator's `WHERE v IS NOT NULL`.
    */
  def ksDriftFromCounts(counts: DataFrame, groupCol: String,
      valueCol: String, cntCol: String,
      maxGridCells: Long = 10000000L): DataFrame = {
    require(maxGridCells >= 1L, s"maxGridCells must be >= 1, got $maxGridCells")
    val cs = counts.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"),
        col(cntCol).cast("long").as("c"))
      .where(col("v").isNotNull)
    val card = cs.agg(
      count_distinct(col("g")).as("groups"),
      count_distinct(col("v")).as("levels")).head()
    val groups = if (card.isNullAt(0)) 0L else card.getLong(0)
    val levels = if (card.isNullAt(1)) 0L else card.getLong(1)
    // Division-form bound (r17 ADVICE): groups*levels can wrap Long for
    // two ~2^32 cardinalities, silently passing a product check in the
    // pathological case the guard exists for. groups <= max/levels (floor)
    // <=> groups*levels <= max, exactly, with no overflow on either side.
    require(levels == 0L || groups <= maxGridCells / levels,
      s"ksDrift grid would have ${BigInt(groups) * BigInt(levels)} cells " +
        s"($groups groups x $levels value levels) > " +
        s"maxGridCells=$maxGridCells — quantize the value column coarser " +
        "(the robustOutliers ⌊v*10^s+0.5⌋ chain) or raise the knob " +
        "deliberately")
    val lv = cs
    val tot = cs.groupBy(col("v")).agg(sum(col("c")).as("t"))
    val ng = cs.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val nAll = cs.agg(sum(col("c")).as("nn"))
    val grid = ng.crossJoin(tot)
      .join(lv, Seq("g", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(nAll))
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cum_c", sum(col("c")).over(w))
      .withColumn("cum_t", sum(col("t")).over(w))
    cum.groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("nn") - col("n")).as("n_rest"),
        max(abs(dec(col("cum_c"), 18, 0) * dec(col("nn") - col("n"), 19, 0) -
            dec(col("cum_t") - col("cum_c"), 18, 0) * dec(col("n"), 19, 0)))
          .cast("decimal(38,0)").as("ks_num"))
      .select(col("g").as(groupCol), col("n"), col("n_rest"),
        col("ks_num").cast("string").as("ks_num"),
        when(col("n_rest") === 0L, lit(null).cast("double"))
          .otherwise(exactDouble(col("ks_num")) /
            exactDouble((dec(col("n"), 18, 0) * dec(col("n_rest"), 19, 0)).cast("decimal(38,0)")))
          .as("ks"))
  }

  /** Exact count of strictly discordant pairs (x_i < x_j AND y_i > y_j)
    * among `rows`, O(m log m): sort by (x asc, y asc), sweep equal-x runs
    * as blocks (query all, then insert all — an x-tied pair never counts),
    * Fenwick over compressed y ranks; `inserted − count(y ≤ cur)` is the
    * strictly-greater count, so y ties never count either.
    */
  private def discordantPairs(rows: Array[(Double, Double)]): Long = {
    val m = rows.length
    if (m < 2) return 0L
    val ys = rows.map(_._2).distinct
    java.util.Arrays.sort(ys)
    def rankOf(y: Double): Int = {
      var lo = 0
      var hi = ys.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ys(mid) < y) lo = mid + 1 else hi = mid
      }
      lo
    }
    val fen = new Array[Long](ys.length + 1)
    def add(r: Int): Unit = {
      var i = r + 1
      while (i <= ys.length) { fen(i) += 1L; i += i & (-i) }
    }
    def countLe(r: Int): Long = {
      var i = r + 1
      var s = 0L
      while (i > 0) { s += fen(i); i -= i & (-i) }
      s
    }
    // NaN-free by the caller's filter, so < is a strict weak order.
    val sorted = rows.sortWith((a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))
    var cnt = 0L
    var inserted = 0L
    var i = 0
    while (i < m) {
      var j = i
      while (j < m && sorted(j)._1 == sorted(i)._1) j += 1
      var k = i
      while (k < j) { cnt += inserted - countLe(rankOf(sorted(k)._2)); k += 1 }
      k = i
      while (k < j) { add(rankOf(sorted(k)._2)); k += 1 }
      inserted += j - i
      i = j
    }
    cnt
  }
}
