package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.meta.Ckpt.Syntax

/** Classifier-evaluation operators for the curation loop: every serious
  * LLM-data pipeline trains quality/toxicity/language classifiers and must
  * evaluate them at corpus scale before trusting them to gate documents
  * (the quality-screening stage the reference's ETL feeds; cf.
  * `/root/reference` `load_postgres_*.py` which stages exactly such scored
  * tables). Both operators follow the repo's determinism contract: all
  * accumulation is exact integer arithmetic; a double appears only as ONE
  * final IEEE division of two exact operands, so results are bit-identical
  * across engines and partitionings (hash-gateable).
  */
object EvalOps {

  /** Per-group ROC-AUC via the Mann–Whitney rank-sum with midrank tie
    * handling — the standard exact formulation:
    *
    *   AUC = (2·Σ_{pos} R_i − P(P+1)) / (2·P·N)
    *
    * where R_i are midranks of the positives under ascending score order,
    * P/N the positive/negative counts. Ties contribute 1/2 per crossing
    * pair, exactly as the trapezoidal ROC integral does. Midranks enter
    * DOUBLED so everything stays integral: a score level with `m` rows of
    * which `p` positive, preceded by `cum` rows, contributes
    * p·(2·cum + m + 1) to 2·Σ R.
    *
    * Scale posture: the first shuffle keys on (group, score) and is
    * combiner-reduced, so the window that forms the cumulative counts runs
    * over SCORE-LEVEL aggregate rows, not data rows — state per group is
    * bounded by the number of distinct scores (quantize continuous scores
    * first; the gate uses an integer score). No data-row window, no
    * single-partition stage. Overflow: the rank-sum is Θ(n²) in the group's
    * row count, so longs are exact to ~3·10⁹ rows per group — beyond that,
    * evaluate on a sample (an eval set at that size measures nothing a
    * 3·10⁹-row sample doesn't).
    *
    * `labelCol` must be 0/1 (checked). Degenerate groups (no positives or
    * no negatives) report NULL auc rather than 0/0.
    *
    * Output: (group, n_pos, n_neg, auc_num = 2U, auc_den = 2PN, auc)
    * — the exact integer numerator/denominator pin the result beyond
    * double printing, and auc is their single IEEE-divided quotient.
    */
  def rocAuc(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val lab = col(labelCol).cast("long")
    val base = df.select(
      col(groupCol).as("grp"),
      col(scoreCol).as("score"),
      when(lab === 0L || lab === 1L, lab)
        .otherwise(raise_error(concat(lit(s"rocAuc: $labelCol must be 0/1, got "),
          lab.cast("string")))).as("lab"))
    val byScore = base.groupBy(col("grp"), col("score"))
      .agg(count(lit(1)).as("m"), sum(col("lab")).as("p"))
    val w = Window.partitionBy(col("grp")).orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byScore.withColumn("cum", coalesce(sum(col("m")).over(w), lit(0L)))
    val agg = cum.groupBy(col("grp")).agg(
      sum(col("p")).as("n_pos"),
      (sum(col("m")) - sum(col("p"))).as("n_neg"),
      sum(col("p") * (lit(2L) * col("cum") + col("m") + lit(1L))).as("r2"))
    agg.select(
      col("grp"),
      col("n_pos"), col("n_neg"),
      (col("r2") - col("n_pos") * (col("n_pos") + 1L)).as("auc_num"),
      (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"),
      when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null).cast("double"))
        .otherwise((col("r2") - col("n_pos") * (col("n_pos") + 1L)).cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
      .withColumnRenamed("grp", groupCol)
  }

  /** Operating-point selection: per group, the LOWEST score threshold
    * whose "predict positive iff score ≥ threshold" rule still meets the
    * precision target `precNum/precDen` — i.e. the maximum-recall
    * operating point at that precision, the decision every
    * quality-classifier deployment makes before gating documents. The
    * precision test is an integer cross-multiplication
    * (tp·precDen ≥ pp·precNum — never a float compare), candidate
    * thresholds are exactly the distinct scores, and groups where no
    * threshold qualifies emit no row (their precision-recall curve never
    * reaches the target).
    *
    * Scale posture: same frame as [[rocAuc]] — one combiner-reduced
    * (group, score) aggregate, then windows over SCORE-LEVEL rows only
    * (cumulative-from-the-top counts and the final min-qualifying pick).
    *
    * Output: (group, threshold, tp, fp, fn, precision, recall); doubles
    * are single IEEE divisions of exact longs.
    */
  def operatingPoint(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, precNum: Int, precDen: Int): DataFrame = {
    require(precNum >= 0 && precDen > 0 && precNum <= precDen,
      s"need 0 <= precNum/precDen <= 1, got $precNum/$precDen")
    val lab = col(labelCol).cast("long")
    val base = df.select(
      col(groupCol).as("grp"),
      col(scoreCol).as("score"),
      when(lab === 0L || lab === 1L, lab)
        .otherwise(raise_error(concat(
          lit(s"operatingPoint: $labelCol must be 0/1, got "),
          lab.cast("string")))).as("lab"))
    val byScore = base.groupBy(col("grp"), col("score"))
      .agg(count(lit(1)).as("m"), sum(col("lab")).as("p"))
    val wTop = Window.partitionBy(col("grp")).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = byScore
      .withColumn("tp", sum(col("p")).over(wTop))
      .withColumn("pp", sum(col("m")).over(wTop))
      .withColumn("pos", sum(col("p")).over(wAll))
    val qualified = cum
      .filter(col("tp") * precDen >= col("pp") * precNum && col("tp") > 0L)
    val pick = Window.partitionBy(col("grp")).orderBy(col("score").asc)
    qualified
      .withColumn("__graft_rn", row_number().over(pick))
      .filter(col("__graft_rn") === 1)
      .select(
        col("grp").as(groupCol),
        col("score").as("threshold"),
        col("tp"),
        (col("pp") - col("tp")).as("fp"),
        (col("pos") - col("tp")).as("fn"),
        (col("tp").cast("double") / col("pp").cast("double")).as("precision"),
        (col("tp").cast("double") / col("pos").cast("double")).as("recall"))
  }

  /** Reliability-diagram bins (calibration curve): rows are cut into `k`
    * equi-depth bins of the score's total order (ties broken by
    * `tiebreakCols`, which must complete a total order) and each bin
    * reports its size, positive count, exact mean score and positive rate.
    * A calibrated classifier has pos_rate tracking mean_score.
    *
    * Binning rides [[RankOps.equidepthBins]] — the zipWithIndex two-phase
    * global rank, never a single-partition window — so the operator is the
    * corpus-scale shape, not the `ntile` one. Scores must be exact values
    * (integers or decimals); the mean is an exact integer/decimal sum with
    * one final IEEE division.
    *
    * Output: (bin 0..k-1, n, n_pos, mean_score, pos_rate) ordered by bin.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
      tiebreakCols: Seq[Column], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val lab = col(labelCol).cast("long")
    val checked = df.withColumn("__graft_lab",
      when(lab === 0L || lab === 1L, lab)
        .otherwise(raise_error(concat(lit(s"calibrationBins: $labelCol must be 0/1, got "),
          lab.cast("string")))))
    RankOps.equidepthBins(checked, col(scoreCol), tiebreakCols, k, binCol = "bin")
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__graft_lab")).as("n_pos"),
        // Decimal-exact sum (the Tables.davg shape): a LONG cast would
        // truncate fractional scores row-by-row — 0.5 would report a
        // bin mean of 0.0 — while decimal(18,4) keeps the documented
        // "integers or decimals" contract exact (r15 ADVICE).
        (sum(col(scoreCol).cast("decimal(18,4)")).cast("double") /
          count(lit(1)).cast("double")).as("mean_score"),
        (sum(col("__graft_lab")).cast("double") /
          count(lit(1)).cast("double")).as("pos_rate"))
      .orderBy(col("bin"))
  }

  /** Per-class precision / recall / F1 of a multi-class labeler against
    * gold, plus the macro-F1 summary row — the per-class view
    * [[cohensKappa]]'s single agreement number hides (a labeler can agree
    * 90% overall while never getting one minority class right).
    *
    * Classes are the UNION of observed gold and predicted labels. All
    * counts are exact longs from three combiner-reduced label-marginal
    * aggregates (diagonal, gold, predicted — state per class, never data
    * rows); precision/recall/F1 are single IEEE divisions of exact
    * operands (2·tp / (2·tp + fp + fn) for F1), NULL where undefined
    * (no gold support → recall/F1 when tp+fp also 0, etc.). The macro row
    * averages F1 over ALL classes (NULL F1 contributes 0 — the
    * zero-division convention scikit's `zero_division=0` documents) via
    * the repo's SORTED FOLD, so the double sum has one defined order and
    * hash-gates ([[graft.operators.StatOps.chiSquare]]'s construction).
    *
    * Output: (cls, n_gold, n_pred, tp, precision, recall, f1) per class +
    * one ('__macro__', NULL…, macro_f1) row.
    */
  def classPrf(df: DataFrame, goldCol: String, predCol: String): DataFrame = {
    def checked(c: String): Column =
      when(col(c).isNotNull, col(c).cast("string"))
        .otherwise(raise_error(lit(s"classPrf: $c must be non-null")))
    // Lazy checkpoint, same rationale as cohensKappa's: the
    // confusion-cell table feeds three aggregates in classPrfFromCounts,
    // and without the cut each re-ran the corpus scan plus the caller's
    // label expressions (predictedLang tokenization for the lang-ID gate).
    // Batch-side only; the streaming twin feeds FromCounts directly.
    classPrfFromCounts(
      df.select(checked(goldCol).as("gold"), checked(predCol).as("pred"))
        .groupBy(col("gold"), col("pred")).agg(count(lit(1)).as("__graft_c"))
        .ckptLazy,
      "gold", "pred", "__graft_c")
  }

  /** [[classPrf]] over PRE-AGGREGATED (gold, pred, count) confusion
    * cells — the formula half, split out for the streaming monitor (the
    * FromCounts pattern): the SAME joint-label count-map state that
    * feeds [[cohensKappaFromCounts]] also closes the per-class view, so
    * one stream emission serves both agreement statistics. At most one
    * row per (gold, pred) cell and non-null labels are assumed
    * ([[classPrf]] enforces the latter on raw rows); cells with a
    * non-positive count are dropped, so a caller pre-seeding the label
    * domain with zero-count cells cannot manufacture phantom classes. All counts stay
    * exact longs; P/R/F1 stay single IEEE divisions; the macro row's
    * sorted fold is unchanged — a stream twin reconstructing the exact
    * label strings lands bit-identically on the batch result.
    */
  def classPrfFromCounts(counts: DataFrame, goldCol: String,
      predCol: String, cntCol: String): DataFrame = {
    // Zero-count cells are dropped here rather than assumed away: a caller
    // that pre-seeds the full label domain with c = 0 cells (a natural
    // stream-side move) would otherwise add phantom classes to the
    // full-outer join and shift the macro-F1 denominator relative to
    // classPrf on raw rows — only OBSERVED cells may define the class set
    // (r18 ADVICE).
    val base = counts.select(col(goldCol).cast("string").as("gold"),
      col(predCol).cast("string").as("pred"), col(cntCol).cast("long").as("c"))
      .filter(col("c") > 0L)
    val diag = base.filter(col("gold") === col("pred"))
      .groupBy(col("gold").as("cls")).agg(sum(col("c")).as("tp"))
    val goldN = base.groupBy(col("gold").as("cls")).agg(sum(col("c")).as("n_gold"))
    val predN = base.groupBy(col("pred").as("cls")).agg(sum(col("c")).as("n_pred"))
    val perClass = goldN.join(predN, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision",
        when(col("n_pred") === 0L, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / col("n_pred").cast("double")))
      .withColumn("recall",
        when(col("n_gold") === 0L, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / col("n_gold").cast("double")))
      .withColumn("f1",
        when(col("n_gold") + col("n_pred") === 0L, lit(null).cast("double"))
          .otherwise((lit(2L) * col("tp")).cast("double") /
            (col("n_gold") + col("n_pred")).cast("double")))
    // 2tp + fp + fn = (tp + fp) + (tp + fn) = n_pred + n_gold — never 0
    // for an observed class, but the guard keeps the contract total.
    val macroRow = perClass
      .agg(
        (aggregate(
          sort_array(collect_list(struct(col("cls"),
            coalesce(col("f1"), lit(0.0)).as("f1v")))),
          lit(0.0), (acc, x) => acc + x.getField("f1v")) /
          count(lit(1)).cast("double")).as("f1"))
      .select(lit("__macro__").as("cls"),
        lit(null).cast("long").as("n_gold"),
        lit(null).cast("long").as("n_pred"),
        lit(null).cast("long").as("tp"),
        lit(null).cast("double").as("precision"),
        lit(null).cast("double").as("recall"),
        col("f1"))
    perClass.unionByName(macroRow)
  }

  /** The nDCG rank discounts 1/log₂(i+1), i = 1..k — computed ONCE in
    * Scala and embedded as DOUBLE LITERALS in both the Spark plan and the
    * DuckDB twin (via `Double.toString`, the shortest round-trip
    * rendering, which any IEEE engine parses back to the identical bits).
    * `log` is the one elementary function IEEE 754 does NOT bit-specify
    * across engines, so the discounts must never be recomputed
    * engine-side — this is the same literal-model move as
    * [[graft.operators.CorpusOps.dsirScore]].
    */
  def ndcgWeights(k: Int): Array[Double] =
    Array.tabulate(k)(i => 1.0 / (math.log(i + 2.0) / math.log(2.0)))

  /** Retrieval-quality metrics — nDCG@k and MRR@k per query plus their
    * macro means — the acceptance eval for every retrieval tier in
    * [[graft.operators.VectorOps]] (brute/IVF/PQ/BQ/MRL) and
    * [[graft.operators.CorpusOps.bm25]]: swap the `ranked` input, keep the
    * judge.
    *
    * Inputs: `ranked` = (query_id, rank, neighbor_id) with rank dense
    * 1..k per query; `labels` = (idCol, labelCol) for every query and
    * corpus item. Relevance is binary label equality, and the query is
    * assumed a corpus member excluded from its own retrieval (the
    * [[graft.operators.VectorOps.topK]] contract), so each query's total
    * relevant count is count(label) − 1.
    *
    * Determinism: DCG folds rel·w_rank in RANK order (the repo's sorted
    * fold); IDCG is a literal PREFIX-SUM lookup at min(R, k) — no fold at
    * all; MRR is one division by an exact rank; macros fold per-query
    * doubles in query-id order. With the literal discounts shared (see
    * [[ndcgWeights]]) every double is bit-reproducible.
    *
    * Scale posture: one label-count aggregate, two label equi-joins, one
    * per-query aggregate over ≤ k rows each. Queries with R = 0 report
    * NULL ndcg (contributing 0 to the macro, documented).
    *
    * Output: (query_id, n_rel, mrr, dcg, ndcg) per query + one macro row
    * with query_id = −1 (ids must be non-negative numerics).
    */
  def retrievalMetrics(ranked: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = ndcgWeights(k)
    val prefix = w.scanLeft(0.0)(_ + _).tail
    // Lazy checkpoint: the caller's `ranked` is typically an
    // EXPENSIVE retrieval plan (a brute-force top-k scored the whole
    // corpus for q_retrieval_eval) but only #queries·k rows — and it
    // feeds BOTH the query-list distinct and the relevance join, while
    // the per-query frame below feeds the output AND the macro row.
    // Without the cuts the retrieval plan re-ran ~4× (44 parquet scans
    // in the r21 q_retrieval_eval plan).
    val ranked1 = ranked.select(col("query_id"), col("rank"), col("neighbor_id"))
      .ckptLazy
    val lab = labels.select(col(idCol).as("gid"), col(labelCol).as("glab"))
    val counts = lab.groupBy(col("glab")).agg(count(lit(1)).as("lc"))
    // LEFT join + loud error: a query id missing from `labels` silently
    // dropping would understate the macro means — a judging bug masked
    // as a smaller eval set.
    val ql = ranked1.select(col("query_id")).distinct()
      .join(lab, col("query_id") === col("gid"), "left")
      .withColumn("glab",
        when(col("glab").isNotNull, col("glab"))
          .otherwise(raise_error(concat(
            lit("retrievalMetrics: query "),
            col("query_id").cast("string"), lit(" has no label")))))
      .join(counts, Seq("glab"))
      .select(col("query_id"), col("glab").as("qlab"),
        (col("lc") - 1L).as("n_rel"))
    val t = ranked1
      .join(lab.select(col("gid").as("nid"), col("glab").as("nlab")),
        col("neighbor_id") === col("nid"))
      .join(broadcast(ql), Seq("query_id"))
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        (col("nlab") === col("qlab")).cast("int").as("rel"))
    val wArr = array(w.map(lit).toIndexedSeq: _*)
    val perQ = t
      .withColumn("term", when(col("rel") === 1,
        element_at(wArr, col("rank"))).otherwise(lit(0.0)))
      .groupBy(col("query_id"))
      .agg(
        aggregate(sort_array(collect_list(struct(col("rank"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("dcg"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"))
      .withColumn("mrr", when(col("first_rel").isNull, lit(0.0))
        .otherwise(lit(1.0) / col("first_rel").cast("double")))
    val pArr = array(prefix.map(lit).toIndexedSeq: _*)
    val f = ql.join(perQ, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("mrr"), lit(0.0)).as("mrr"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"))
      .withColumn("ndcg", when(col("n_rel") === 0L, lit(null).cast("double"))
        .otherwise(col("dcg") /
          element_at(pArr, least(col("n_rel"), lit(k.toLong)).cast("int"))))
      // Per-query frame: one tiny row per query, consumed by the output
      // AND the macro aggregate — cut here so the union's second branch
      // reads the materialized rows.
      .ckptLazy
    val macroRow = f.agg(
        (aggregate(
          sort_array(collect_list(struct(col("query_id"), col("mrr").as("v")))),
          lit(0.0), (a, x) => a + x.getField("v")) /
          count(lit(1)).cast("double")).as("mrr"),
        (aggregate(
          sort_array(collect_list(struct(col("query_id"),
            coalesce(col("ndcg"), lit(0.0)).as("v")))),
          lit(0.0), (a, x) => a + x.getField("v")) /
          count(lit(1)).cast("double")).as("ndcg"))
      .select(lit(-1L).as("query_id"), lit(null).cast("long").as("n_rel"),
        col("mrr"), lit(null).cast("double").as("dcg"), col("ndcg"))
    f.select(col("query_id"), col("n_rel"), col("mrr"), col("dcg"), col("ndcg"))
      .unionByName(macroRow)
  }

  /** Pair-set precision/recall/F1 — the judge for every pairwise
    * detector in the dedup family ([[graft.operators.SimHash]],
    * [[graft.operators.MinHashLsh]], [[graft.operators.SetSimJoin]],
    * [[graft.operators.VectorOps.semDedup]],
    * [[graft.operators.MultimodalOps.dHashNearDup]]): `pred` and `truth`
    * are canonical (doc_i < doc_j) pair tables; the metric compares them
    * as SETS via one full-outer equi-join on the pair key — never an
    * all-pairs stage, both inputs arrive already candidate-bounded by
    * their own banding. Duplicate pair rows are collapsed (set
    * semantics). Counts are exact longs; P/R/F1 single IEEE divisions,
    * NULL where undefined (empty pred → precision NULL, empty truth →
    * recall NULL).
    *
    * Output: one row (tp, fp, fn, precision, recall, f1).
    */
  def pairSetPrf(pred: DataFrame, truth: DataFrame): DataFrame = {
    def canon(df: DataFrame, flag: String): DataFrame =
      df.select(col("doc_i"), col("doc_j")).distinct()
        .withColumn(flag, lit(1L))
    val j = canon(pred, "inp").join(canon(truth, "intr"),
      Seq("doc_i", "doc_j"), "full_outer")
    val agg = j.agg(
      sum(coalesce(col("inp"), lit(0L)) * coalesce(col("intr"), lit(0L))).as("tp"),
      sum(coalesce(col("inp"), lit(0L)) *
        (lit(1L) - coalesce(col("intr"), lit(0L)))).as("fp"),
      sum((lit(1L) - coalesce(col("inp"), lit(0L))) *
        coalesce(col("intr"), lit(0L))).as("fn"))
    agg.select(
      coalesce(col("tp"), lit(0L)).as("tp"),
      coalesce(col("fp"), lit(0L)).as("fp"),
      coalesce(col("fn"), lit(0L)).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double")))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double")))
      .withColumn("f1",
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L,
          lit(null).cast("double"))
          .otherwise((lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
  }

  /** Per-group Cohen's kappa — chance-corrected agreement between two
    * categorical labelers (gold vs predicted, or two annotators), the
    * standard acceptance metric before a weak labeler's output is trusted
    * as training signal. With n rows, a = agreements, and marginal label
    * counts rᵢ (rater A) / cᵢ (rater B):
    *
    *   κ = (p_o − p_e) / (1 − p_e),  p_o = a/n,  p_e = Σᵢ rᵢ·cᵢ / n²
    *     = (n·a − Σᵢ rᵢ·cᵢ) / (n² − Σᵢ rᵢ·cᵢ)
    *
    * — the second form is the one computed: every operand is an exact
    * integer, and κ is ONE final IEEE division, so the statistic is
    * hash-gateable (the repo's determinism contract).
    *
    * Scale posture: two combiner-reduced (group, label) marginal
    * aggregates equi-joined on their label and one (group) agreement
    * aggregate — state is bounded by the LABEL cardinality per group,
    * never data rows; no window, no collect. Overflow: n² must fit a
    * long, exact to ~3·10⁹ rows per group (the [[rocAuc]] bound).
    *
    * Null rater labels are rejected with an error (a null is a missing
    * annotation, not a category — dropping it silently would skew p_e).
    * Groups where the raters share no label (p_e = 0) are fine; κ = p_o.
    * Degenerate groups with n² = Σ rᵢ·cᵢ (both raters constant — p_e = 1)
    * report NULL kappa rather than 0/0.
    *
    * Output: (group, n, n_agree, pe_num = Σ rᵢ·cᵢ, kappa_num, kappa_den,
    * kappa), one row per group.
    */
  def cohensKappa(df: DataFrame, groupCol: String, raterACol: String,
      raterBCol: String): DataFrame = {
    def checked(c: String): Column =
      when(col(c).isNotNull, col(c).cast("string"))
        .otherwise(raise_error(lit(s"cohensKappa: $c must be non-null")))
    // Lazy checkpoint (the CorpusOps.tokenBudgetMix convention): the
    // joint-cell table is label²·groups rows but feeds THREE downstream
    // aggregates in cohensKappaFromCounts (agreements + both marginals) —
    // without the cut, each consumer re-ran the full data scan AND the
    // rater expressions (for the lang-ID gate: the whole predictedLang
    // tokenization, three times over the corpus — guide §3.3
    // "materialise an intermediate to truncate the plan"). Batch-side
    // only: the streaming twin calls cohensKappaFromCounts directly on its
    // (already tiny) state table, which stays checkpoint-free.
    cohensKappaFromCounts(
      df.select(col(groupCol).as("grp"),
          checked(raterACol).as("ra"), checked(raterBCol).as("rb"))
        .groupBy(col("grp"), col("ra"), col("rb"))
        .agg(count(lit(1)).as("c"))
        .ckptLazy,
      "grp", "ra", "rb", "c")
      .withColumnRenamed("grp", groupCol)
  }

  /** [[cohensKappa]] over PRE-AGGREGATED (group, a-label, b-label, count)
    * joint cells — the formula half, split out for the streaming
    * monitors (the FromCounts pattern of
    * [[graft.operators.StatOps.chiSquareFromCounts]] /
    * `ksDriftFromCounts` / `tClosenessFromCounts`): keyed stream state
    * owns the per-group joint-label count map, this closes the
    * cross-cell statistic batch-side, and the batch gate's oracle gates
    * both. At most one row per (group, a, b) is assumed; labels must be
    * non-null (the caller's contract — [[cohensKappa]] enforces it on
    * raw rows). Every derived quantity (n, agreements, marginals, Σ
    * rᵢ·cᵢ) is an exact-long aggregate OF the cells, and κ stays the one
    * IEEE division, so a stream twin that reconstructs the exact label
    * strings lands bit-identically on the batch result.
    */
  def cohensKappaFromCounts(counts: DataFrame, groupCol: String,
      aCol: String, bCol: String, cntCol: String): DataFrame = {
    val cells = counts.select(col(groupCol).as("grp"),
      col(aCol).cast("string").as("ra"), col(bCol).cast("string").as("rb"),
      col(cntCol).cast("long").as("c"))
    val agree = cells.groupBy(col("grp")).agg(
      sum(col("c")).as("n"),
      sum(when(col("ra") === col("rb"), col("c")).otherwise(0L))
        .as("n_agree"))
    val margA = cells.groupBy(col("grp"), col("ra").as("lab"))
      .agg(sum(col("c")).as("ca"))
    val margB = cells.groupBy(col("grp"), col("rb").as("lab"))
      .agg(sum(col("c")).as("cb"))
    // Inner join: a label absent from either rater contributes 0 to p_e.
    val pe = margA.join(margB, Seq("grp", "lab"))
      .groupBy(col("grp")).agg(sum(col("ca") * col("cb")).as("pe_num"))
    // Left join: a group whose raters share NO label has no pe row at all.
    agree.join(pe, Seq("grp"), "left")
      .select(
        col("grp").as(groupCol),
        col("n"), col("n_agree"),
        coalesce(col("pe_num"), lit(0L)).as("pe_num"),
        (col("n") * col("n_agree") - coalesce(col("pe_num"), lit(0L)))
          .as("kappa_num"),
        (col("n") * col("n") - coalesce(col("pe_num"), lit(0L)))
          .as("kappa_den"))
      .withColumn("kappa",
        when(col("kappa_den") === 0L, lit(null).cast("double"))
          .otherwise(col("kappa_num").cast("double") /
            col("kappa_den").cast("double")))
  }
}
