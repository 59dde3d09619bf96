package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.meta.Ckpt.Syntax
import graft.meta.IndexTables
import scala.collection.immutable.ArraySeq
import graft.Tables.{dec, exactDouble}

/** Corpus-curation operators for training-data pipelines: repetition-based
  * quality filtering (the Gopher/RefinedWeb "most frequent n-gram covers too
  * much of the document" rule), representative-term extraction (TF-IDF-style
  * with a float-free integer ranking), and deterministic per-stratum
  * hash-sampling for dataset mixing.
  *
  * Scale posture: everything is per-row expressions + keyed hash aggregates
  * (combiner-reduced, keys are (doc, gram)/(token)/(doc) — all high-
  * cardinality); no all-pairs stage, no driver materialization, no UDFs.
  */
object CorpusOps {

  /** ALL word `n`-grams of `text` in order, duplicates KEPT — repetition
    * analysis needs occurrence counts, so this is deliberately not
    * [[TextOps.wordShingles]] (which is distinct). Same let-binding shape:
    * the token array is bound through a singleton-array `transform` so the
    * lambda references a variable, not a re-inlined `split` (the O(tokens²)
    * trap caught in round 3 — see [[TextOps.wordShinglesHof]]).
    */
  def wordNgramsAll(text: Column, n: Int): Column =
    element_at(
      transform(array(TextOps.tokens(text)), w => {
        val grams = transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))
        when(size(w) < n, array().cast("array<string>")).otherwise(grams)
      }),
      1)

  /** Per-document repetition statistics over word `n`-grams: total gram
    * occurrences, the top gram's occurrence count, and the keep/drop flag
    * `top · maxRepDen ≤ total · maxRepNum` (an exact integer form of
    * "top n-gram covers ≤ maxRepNum/maxRepDen of the document" — Gopher
    * drops a doc whose top 2-gram exceeds 0.20 of it). Documents with fewer
    * than `n` tokens produce no grams and are absent from the output —
    * filter them upstream with their own length rule.
    *
    * Output: (doc_id, n_grams, top_gram_n, keep ∈ {0,1}). Two keyed hash
    * aggregates — (doc, gram) then (doc) — both combiner-reduced; nothing
    * quadratic in document length.
    */
  def repetitionStats(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, maxRepNum: Int = 1, maxRepDen: Int = 5): DataFrame = {
    require(n >= 1 && maxRepNum > 0 && maxRepDen > 0)
    docs
      .select(col(idCol).as("doc_id"),
        explode(wordNgramsAll(col(textCol), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"), max(col("cnt")).as("top_gram_n"))
      .select(col("doc_id"), col("n_grams"), col("top_gram_n"),
        when(col("top_gram_n") * maxRepDen <= col("n_grams") * maxRepNum, 1L)
          .otherwise(0L).as("keep"))
  }

  /** HEURISTIC QUALITY-RULE REPORT — the C4/Gopher/RefinedWeb composite
    * filter every web-scale curation pipeline runs BEFORE dedup (Rae et
    * al. 2021 "Scaling Language Models: ... Gopher" §A1.1; Raffel et al.
    * 2020 C4; Penedo et al. 2023 RefinedWeb): per document, the
    * repetition / symbol / layout signals plus ONE composite keep flag.
    * Per-doc signals (lines split on `\n`; words split on spaces within a
    * line, empties dropped; NULL text reads as empty):
    *
    *  - `n_lines`, `n_dup_lines` (occurrences beyond each line's first),
    *    `dup_line_frac` — Gopher's duplicate-line screen;
    *  - `n_words`, `sum_word_chars`, `mean_word_len` — the word-length
    *    band (organic prose sits in [3,10]);
    *  - `top2_gram`, `top2_n`, `top2_chars` (= occurrences × gram length,
    *    Gopher's overlapping-char convention), `top2_char_frac` — the
    *    "most frequent 2-gram covers too much" rule, tie broken to the
    *    lexicographically smallest gram;
    *  - `n_symbols` (`#` chars + `...` occurrences), `symbol_ratio`
    *    (per word) — the hashtag/ellipsis screen;
    *  - `n_bullet_lines` (prefix `- ` / `* ` / `• `), `bullet_frac`;
    *    `n_ellipsis_lines` (suffix `...` / `…`), `ellipsis_frac`;
    *  - `keep` — ALL of: minWords ≤ n_words ≤ maxWords; mean word length
    *    in [3,10]; symbol_ratio < 1/10; bullet_frac < 9/10;
    *    ellipsis_frac < 3/10; dup_line_frac < 3/10; top2_char_frac < 1/5
    *    — evaluated as exact integer cross-multiplications (the
    *    [[repetitionStats]] discipline), so the flag hash-gates.
    *
    * The DOUBLE ratio columns are single IEEE divisions of exact longs
    * (engine-stable); every decision input is integer.
    *
    * Scale posture: ONE scan, join-free, shuffle-free — every signal,
    * including the top-2-gram mode, is a per-row expression (the mode is
    * an `array_sort` + run-length `aggregate` fold INSIDE the row, never
    * an explode), so the operator map-streams at 100 TB and Catalyst
    * prunes the scan to (id, text). [[repetitionStats]] remains the
    * explode/aggregate form for corpora whose single documents are too
    * large to fold in memory; this is the report for web-scale MANY-doc
    * corpora where per-doc arrays are KB-sized.
    */
  def qualityRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got $minWords..$maxWords")
    val t = coalesce(col(textCol), lit(""))
    // Let-binding discipline throughout (the wordNgramsAll singleton-
    // transform trick): the line array, the word array, and the fold
    // result are each bound to a LAMBDA VARIABLE before being referenced
    // more than once — a bare Scala val would re-inline the whole
    // subexpression per reference (HOFs are CodegenFallback, so runtime
    // subexpression elimination would NOT rescue the duplicates).
    val metrics = element_at(transform(array(split(t, "\n")), ls => {
      val words = filter(flatten(transform(ls, l => split(l, " "))),
        w => w =!= "")
      // Per-line word bigrams (never across a line break), each line's
      // token array bound through its own singleton transform.
      val bg = flatten(transform(ls, l =>
        element_at(transform(array(filter(split(l, " "), w => w =!= "")),
          wl => when(size(wl) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(wl) - 1),
              i => concat_ws(" ", element_at(wl, i), element_at(wl, i + 1))))),
          1)))
      // Run-length fold over the sorted bigrams: strictly-greater keeps
      // the FIRST maximal run = the lexicographically smallest tied gram.
      val top = aggregate(array_sort(bg),
        struct(lit("").as("prev"), lit(0L).as("run"),
          lit(0L).as("best"), lit("").as("bestg")),
        (acc, g) => {
          val run = when(g === acc.getField("prev"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(g.as("prev"), run.as("run"),
            when(run > acc.getField("best"), run)
              .otherwise(acc.getField("best")).as("best"),
            when(run > acc.getField("best"), g)
              .otherwise(acc.getField("bestg")).as("bestg"))
        })
      val bulletLines = filter(ls, l =>
        l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• "))
      val ellipsisLines = filter(ls, l =>
        l.endsWith("...") || l.endsWith("…"))
      // words and top are each referenced more than once below — bind both
      // through one singleton struct so they evaluate ONCE per row.
      element_at(transform(array(struct(words.as("w"), top.as("tp"))), v =>
        struct(
          size(ls).cast("long").as("n_lines"),
          (size(ls) - size(array_distinct(ls))).cast("long").as("n_dup_lines"),
          size(v.getField("w")).cast("long").as("n_words"),
          aggregate(v.getField("w"), lit(0L), (a, w) => a + length(w))
            .as("sum_word_chars"),
          v.getField("tp").getField("best").as("top2_n"),
          v.getField("tp").getField("bestg").as("top2_gram"),
          (v.getField("tp").getField("best") *
            length(v.getField("tp").getField("bestg"))).as("top2_chars"),
          size(bulletLines).cast("long").as("n_bullet_lines"),
          size(ellipsisLines).cast("long").as("n_ellipsis_lines"))), 1)
    }), 1)
    val nSymbols =
      (length(t) - length(regexp_replace(t, "#", ""))).cast("long") +
        ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long")
    def frac(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    val m = docs.select(col(idCol).as("doc_id"),
      length(t).cast("long").as("n_chars"),
      nSymbols.as("n_symbols"),
      metrics.as("m"))
    val f = m.select(col("doc_id"), col("n_chars"),
      col("m.n_lines").as("n_lines"), col("m.n_dup_lines").as("n_dup_lines"),
      col("m.n_words").as("n_words"),
      col("m.sum_word_chars").as("sum_word_chars"),
      col("m.top2_n").as("top2_n"),
      when(col("m.top2_n") > 0L, col("m.top2_gram")).as("top2_gram"),
      col("m.top2_chars").as("top2_chars"),
      col("n_symbols"),
      col("m.n_bullet_lines").as("n_bullet_lines"),
      col("m.n_ellipsis_lines").as("n_ellipsis_lines"))
    f.select(col("*"),
        frac(col("n_dup_lines"), col("n_lines")).as("dup_line_frac"),
        frac(col("sum_word_chars"), col("n_words")).as("mean_word_len"),
        frac(col("top2_chars"), col("n_chars")).as("top2_char_frac"),
        frac(col("n_symbols"), col("n_words")).as("symbol_ratio"),
        frac(col("n_bullet_lines"), col("n_lines")).as("bullet_frac"),
        frac(col("n_ellipsis_lines"), col("n_lines")).as("ellipsis_frac"),
        (col("n_words") >= minWords.toLong && col("n_words") <= maxWords.toLong &&
          col("sum_word_chars") >= col("n_words") * 3L &&
          col("sum_word_chars") <= col("n_words") * 10L &&
          col("n_symbols") * 10L < col("n_words") &&
          col("n_bullet_lines") * 10L < col("n_lines") * 9L &&
          col("n_ellipsis_lines") * 10L < col("n_lines") * 3L &&
          col("n_dup_lines") * 10L < col("n_lines") * 3L &&
          col("top2_chars") * 5L < col("n_chars")).as("keep"))
  }

  /** Top-`k` representative terms per document, TF-IDF-style but ranked
    * entirely in integers: term frequency descending, document frequency
    * ascending (rarer wins), token ascending — the argmax of tf·idf for any
    * monotone idf without a single float (float scores would be a cross-
    * engine hash hazard and add nothing to the ordering).
    *
    * Output: (doc_id, rnk 1..k, token, tf, df). Shuffles: (doc, token)
    * aggregate, (token) df aggregate + join back, per-doc rank window — all
    * keyed on high-cardinality columns; the df relation is
    * vocabulary-sized, so Catalyst broadcasts it when small.
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1)
    // Lazy checkpoint: tf feeds BOTH the document-frequency aggregate
    // and the join back — without the cut each consumer re-ran the corpus
    // scan + explode + (doc, token) string aggregate (two full corpus
    // passes where one suffices; guide §3.3 plan truncation). tf is
    // the distinct (doc, token) table — far smaller than the corpus text
    // it replaces in the second pass.
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .ckptLazy
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(df, "token")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("int").as("rnk"),
        col("token"), col("tf"), col("df"))
  }

  /** Top-`v` corpus tokens by frequency (count DESC, token ASC — the
    * [[tokenizeToIds]] vocabulary selection), de-GC'd (r20 VERDICT item 2):
    * the corpus-wide count keys on the compiled 60-bit token hash
    * ([[SimHash.tokenWideHashes]] — zero per-token heap strings through
    * explode/shuffle/aggregate), and the ≤ ~v token STRINGS the output
    * needs are recovered by one broadcast-semi-join filter pass over the
    * corpus. The boundary cut is tie-complete (every hash with `n ≥ the
    * v-th largest n` survives to the exact (n DESC, token ASC) ordered
    * limit), so the selection — including string tie-breaks — is identical
    * to the old string-keyed TakeOrdered, hash injectivity on the
    * vocabulary assumed (60 bits). Empty tokens are excluded (the
    * `length > 0` vocabulary convention; their hash is 0, which no
    * non-degenerate token shares).
    *
    * Output: (token, n), the top-v rows in selection order.
    */
  def topTokens(docs: DataFrame, textCol: String, v: Int): DataFrame = {
    require(v >= 1, s"v must be >= 1, got $v")
    val counts = docs
      .select(explode(SimHash.tokenWideHashes(col(textCol))).as("h"))
      .filter(col("h") =!= 0L)
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .ckptLazy
    val thresh = counts.orderBy(col("n").desc).limit(v)
      .agg(min(col("n")).as("graft_th"))
    val cand = counts.crossJoin(broadcast(thresh))
      .filter(col("n") >= col("graft_th"))
      .ckptLazy
    val candH = broadcast(cand.select(col("h")).distinct())
    val names = docs
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("token"), TextOps.wideHash(col("token")).as("h"))
      .join(candH, Seq("h"), "left_semi")
      .distinct()
    cand.join(names, Seq("h"))
      .orderBy(col("n").desc, col("token").asc).limit(v)
      .select(col("token"), col("n"))
  }

  /** BM25 keyword retrieval: top-`k` documents for a fixed query-term set —
    * the sparse/lexical side of hybrid search (fuse with the dense rankings
    * via [[VectorOps.rrfFuse]]). Standard BM25 shape
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with ONE
    * deliberate variant: idf is the raw Robertson odds ratio
    * `(N − df + 0.5)/(df + 0.5)` without the usual `ln` — transcendentals
    * are the only float ops NOT bit-specified by IEEE 754, so the ln-free
    * form is what makes the score itself (not just the ranking) exactly
    * reproducible across engines. Every arithmetic step is a fixed
    * left-associative chain of exact-rounded `+ − × /`, and the per-term
    * contributions are added in sorted-term order, so the emitted double is
    * bit-identical in the DuckDB oracle.
    *
    * Scale posture: the token explode is filtered to the query terms
    * BEFORE any shuffle (the candidate set is only docs containing ≥1
    * term); `df` and the 1-row corpus stats broadcast; selection is a
    * TakeOrderedAndProject top-k, never a full sort.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1 && queryTerms.nonEmpty)
    val terms = queryTerms.distinct.sorted
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("graft_text"))
    val dl = d.select(col("doc_id"),
      TextStats.nTokens(col("graft_text")).as("dl"))
    val tf = d
      .select(col("doc_id"), explode(TextOps.tokens(col("graft_text"))).as("token"))
      .filter(col("token").isin(terms: _*)) // prune BEFORE the first shuffle
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    bm25Over(tf, dl, terms, k, k1, b)
  }

  /** Scoring core shared by [[bm25]] (postings built on the fly) and
    * [[bm25Indexed]] (postings loaded from the persisted index) — single
    * source for the arithmetic, so the two paths cannot drift.
    *
    * `tf`: (doc_id, token, tf) — may carry the FULL vocabulary (the term
    * filter here reaches a bucketed+sorted postings scan as a pushed
    * min/max-prunable predicate); `dl`: (doc_id, dl) over ALL docs.
    */
  private def bm25Over(tf: DataFrame, dl: DataFrame, terms: Seq[String],
      k: Int, k1: Double, b: Double): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val tfq = tf.filter(col("token").isin(terms: _*))
    val dfRel = tfq.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val joined = tfq
      .join(broadcast(dfRel), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
    // Exact-arithmetic twins of the oracle SQL — keep the association order
    // in lockstep with the q_bm25_topk string if either ever changes.
    val avgdl = col("sumdl").cast("double") / col("n")
    val idf = (col("n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val denom = col("tf") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / avgdl))
    val contrib = idf * (col("tf") * (lit(k1) + lit(1.0))) / denom
    val score = terms
      .map(t => coalesce(sum(when(col("token") === t, contrib)), lit(0.0)))
      .reduceLeft(_ + _)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    joined.groupBy(col("doc_id"))
      .agg(score.as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(w).cast("int"))
      .select(col("rnk"), col("doc_id"), col("score"))
  }

  /** Persist the BM25 index: the (doc_id, token, tf) postings bucketed AND
    * sorted by `token` (bucket pruning answers an `IN`-list of query terms
    * from a handful of buckets; the sort gives footer min/max skipping
    * within them) plus the doc-length table. Build once at ingest; every
    * [[bm25Indexed]] query then scores WITHOUT re-tokenizing the corpus —
    * the text-search twin of [[VectorOps.saveIvfIndex]]'s build-once/
    * probe-many contract.
    */
  def saveTextIndex(docs: DataFrame, idCol: String, textCol: String,
      name: String, buckets: Int = 8): Unit = {
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("graft_text"))
    val tf = d
      .select(col("doc_id"), explode(TextOps.tokens(col("graft_text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    IndexTables.overwrite(tf, s"${name}_postings", Seq("token"), buckets)
    // doc lengths bucketed on the score join's key
    IndexTables.overwrite(
      d.select(col("doc_id"),
        TextStats.nTokens(col("graft_text")).as("dl")),
      s"${name}_doclen", Seq("doc_id"), buckets)
  }

  /** BM25 over a [[saveTextIndex]] layout — identical output to [[bm25]]
    * on the same corpus (round-trip spec in CorpusOpsSpec; the
    * q_bm25_indexed gate shares q_bm25_topk's oracle verbatim).
    */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession, name: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1 && queryTerms.nonEmpty)
    bm25Over(spark.table(s"${name}_postings"), spark.table(s"${name}_doclen"),
      queryTerms.distinct.sorted, k, k1, b)
  }

  /** PII scrubbing rules for [[TextOps.redact]] — the curation pass every
    * web-scraped training corpus runs before release. Emails first (the
    * phone/IP digit rules must never fire inside a mailbox), then dashed
    * phone numbers, then dotted IPv4 — after the email rewrite the three
    * pattern families are disjoint. All three stay in the Java∩RE2 common
    * regex dialect (see [[TextOps.redact]]) so the DuckDB oracle twin is
    * exact.
    */
  val PiiRules: Seq[(String, String)] = Seq(
    "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{3}-\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /** Train/eval contamination detection: every (corpus, reference) document
    * pair sharing at least one length-`n` contiguous character window,
    * with the count of distinct shared windows — the standard train-test
    * overlap primitive (run the eval/benchmark set as `ref` against the
    * training corpus; any hit is a candidate leak, ranked by
    * `n_shared_windows`).
    *
    * Windows are matched by their 60-bit [[TextOps.wideHash]] — primitive
    * 8-byte join keys instead of `n`-byte strings (the string→long lever
    * measured at ~1.8× on the n-gram join), at a 2^-60 per-pair false-match
    * rate; a detector feeding downstream review, not a proof of equality.
    *
    * Scale posture: per-row compiled shingling, then an equi-join keyed on
    * window hash — never an all-pairs scan; work is Σ|shared-window bucket
    * pairs|, which is the OUTPUT semantics, not a plan artifact. Boilerplate
    * windows (headers, license text) are the hot-key risk: `maxWindowDf`
    * drops windows occurring in more than that many documents across both
    * inputs (one combiner-reduced count + a semi-join-shaped filter on the
    * reference side) — the documented recall trade: a pair ALL of whose
    * shared windows are boilerplate is not reported.
    *
    * @return (doc_a, doc_b, n_shared_windows LONG), doc_a from `corpus`,
    *         doc_b from `ref`; identical ids are never paired
    */
  def sharedWindowOverlap(
      corpus: DataFrame, corpusId: String, corpusText: String,
      ref: DataFrame, refId: String, refText: String,
      n: Int, maxWindowDf: Option[Int] = None): DataFrame = {
    require(n >= 2, "a 1-char window matches near-everything; use a real window")
    maxWindowDf.foreach(cap => require(cap >= 2, "a shared window has df >= 2"))
    def windows(df: DataFrame, id: String, text: String, out: String) =
      df.filter(length(col(text)) >= n)
        .select(col(id).as(out),
          explode(TextOps.windowHashes(col(text), n)).as("w"))
    val cw = windows(corpus, corpusId, corpusText, "doc_a")
    val rw = windows(ref, refId, refText, "doc_b")
    // Windows are DISTINCT per document (charShingles), so each qualifying
    // (doc_a, doc_b, window) triple joins exactly once and the final count
    // is the number of distinct shared windows.
    val rwKept = maxWindowDf match {
      case Some(cap) =>
        val under = cw.select(col("w")).union(rw.select(col("w")))
          .groupBy("w").agg(count(lit(1)).as("wdf"))
          .filter(col("wdf") <= cap).select(col("w"))
        // Filtering one side suffices: an over-cap window cannot survive
        // the equi-join if it is absent from the reference side.
        rw.join(under, "w")
      case None => rw
    }
    cw.join(rwKept, "w")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** Per-document duplication profile — the RefinedWeb-style corpus-health
    * metric: of a document's distinct length-`n` character windows, how many
    * also occur in at least one OTHER document (or more precisely, occur
    * with corpus df ≥ 2 — a window repeated only inside one document counts
    * once and stays unique). High `dup_fraction` flags boilerplate-heavy or
    * near-duplicate material for the curation pass.
    *
    * Same window-hash core as [[sharedWindowOverlap]]: compiled shingling,
    * one combiner-reduced df count keyed on the 60-bit window hash, one
    * join back keyed the same way, one per-doc aggregate. `dup_fraction` is
    * a single IEEE division of two exact counts (cross-engine-identical —
    * the q_text_stats convention).
    *
    * @return (doc_id, n_windows, n_dup_windows LONG, dup_fraction DOUBLE);
    *         documents shorter than `n` have no windows and are absent
    */
  def windowDuplication(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, "a 1-char window is duplicated near-everywhere")
    val w = docs.filter(length(col(textCol)) >= n)
      .select(col(idCol).as("doc_id"),
        explode(TextOps.windowHashes(col(textCol), n)).as("w"))
    val wdf = w.groupBy("w").agg(count(lit(1)).as("wdf"))
    w.join(wdf, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("wdf") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
          .as("dup_fraction"))
  }

  /** Persisted DECONTAMINATION index: the held-out benchmark's distinct
    * length-`n` character windows ([[TextOps.windowHashes]], 60-bit keys)
    * as a bucketed `{name}_windows(w, ref_id)` table — build once when the
    * benchmark is frozen, probe every training batch forever. Boilerplate
    * is excluded AT BUILD TIME: windows occurring in more than `maxRefDf`
    * BENCHMARK documents never enter the index (note the contract shift vs
    * [[sharedWindowOverlap]], whose cap is over both sides combined — an
    * index must not depend on future probes, so boilerplate is defined by
    * the reference side alone, which is also the cheaper probe).
    *
    * Same lifecycle discipline as [[MinHashLsh.saveLshIndex]]: `n` is the
    * `graft.window_n` property of `{name}_windows`, so probes cannot drift.
    */
  def saveWindowIndex(ref: DataFrame, idCol: String, textCol: String,
      name: String, n: Int, maxRefDf: Option[Int] = None,
      buckets: Int = 32): Unit = {
    require(n >= 2, "a 1-char window matches near-everything; use a real window")
    val w = ref.filter(length(col(textCol)) >= n)
      .select(col(idCol).as("ref_id"),
        explode(TextOps.windowHashes(col(textCol), n)).as("w"))
    val kept = maxRefDf match {
      case Some(cap) =>
        require(cap >= 1, s"maxRefDf must be >= 1, got $cap")
        val under = w.groupBy(col("w")).agg(count(lit(1)).as("wdf"))
          .filter(col("wdf") <= cap).select(col("w"))
        w.join(under, Seq("w"))
      case None => w
    }
    IndexTables.overwrite(kept.select(col("w"), col("ref_id")),
      s"${name}_windows", Seq("w"), buckets)
    IndexTables.setProperties(ref.sparkSession, s"${name}_windows",
      Map("window_n" -> n.toString))
  }

  /** Probe the window index with a batch of training documents: one
    * emission per (training doc, benchmark doc, shared window) triple.
    * STATELESS — a per-row generate on the probe side plus one equi-join
    * against the bucketed windows table (index side reads co-located; the
    * probe side, the small one, shuffles to the bucket layout) — so the
    * same plan runs unchanged under a Structured Streaming micro-batch
    * with zero stream state (q_stream_decontam), exactly the
    * [[MinHashLsh.lshProbeEmissions]] shape. Aggregate at the sink:
    * windows are DISTINCT per document on both sides, so
    * `count(*) per (doc_a, doc_b)` over the emissions IS the shared-window
    * count ([[windowProbe]] is that fold for batch callers).
    */
  def windowProbeEmissions(spark: org.apache.spark.sql.SparkSession,
      probeDocs: DataFrame, idCol: String, textCol: String,
      name: String): DataFrame = {
    val n = IndexTables.intProperty(spark, s"${name}_windows", "window_n")
    probeDocs.filter(length(col(textCol)) >= n)
      .select(col(idCol).as("doc_a"),
        explode(TextOps.windowHashes(col(textCol), n)).as("w"))
      .join(spark.table(s"${name}_windows").toDF("w", "doc_b"), Seq("w"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("w"))
  }

  /** Batch fold of [[windowProbeEmissions]]: every (training, benchmark)
    * pair sharing ≥ 1 indexed window, with its distinct shared-window
    * count — "which training documents are contaminated with which
    * benchmark items", the recurring decontamination sweep.
    */
  def windowProbe(spark: org.apache.spark.sql.SparkSession,
      probeDocs: DataFrame, idCol: String, textCol: String,
      name: String): DataFrame =
    windowProbeEmissions(spark, probeDocs, idCol, textCol, name)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))

  /** Deterministic per-stratum Bernoulli sampling by content hash: a row in
    * stratum `v` with rate `(num, den)` is kept iff
    * `polyHash(key) % den < num`. Strata without a configured rate are
    * DROPPED (rate 0) — the dataset-mixing contract: every stratum's rate is
    * an explicit decision. Pure per-row filter: stable across runs, engines
    * and partitionings (unlike `rand()` sampling), pushes down like any
    * predicate, and composable with the train/val/test hash split (use a
    * different hash base per decision so the two stay independent).
    */
  def stratifiedHashSample(
      df: DataFrame, strata: Column, key: Column,
      rates: Seq[(String, Int, Int)], hashBase: Long = 31L): DataFrame = {
    require(rates.nonEmpty && rates.forall { case (_, n, d) => n >= 0 && d > 0 })
    val h = TextOps.polyHash(key, hashBase)
    val pred = rates
      .map { case (v, num, den) => strata === v && h % den < num }
      .reduce(_ || _)
    df.filter(pred)
  }

  /** Temperature-flattened source mixing at α = 1/2 — the dataset-mixing
    * step that UPWEIGHTS small sources relative to proportional sampling
    * (the Pile/Gopher-style mix): stratum `s` with `n_s` rows is kept at
    * rate `min(1, c/√n_s)`, so the expected kept count is `c·√n_s` — a
    * 10000:100 source imbalance flattens to 100:10. Rates follow from the
    * strata SIZES; [[stratifiedHashSample]] is the explicit-rate sibling.
    *
    * The keep decision is INTEGER-EXACT — no sqrt, no float threshold:
    * with `u = polyHash(key) % m` uniform on `[0, m)`,
    * `u/m < c/√n_s  ⟺  u²·n_s < c²·m²`, and the right side is evaluated as
    * a 128-bit-safe DECIMAL(38,0) product (`u² < 2^40` times an arbitrary
    * BIGINT count stays under 10^31), so the same comparison is bit-exact
    * in any engine — the reproducibility contract of the other samplers,
    * which a float `sqrt` at the threshold boundary cannot give.
    *
    * Scale posture: one combiner-reduced count per stratum (output rows =
    * #strata, tiny by construction), broadcast back onto the corpus — the
    * 100 TB side is never shuffled; the keep test is a per-row predicate.
    *
    * @param c expected kept rows per stratum = c·√n_s (strata with
    *          n_s ≤ c² are kept whole)
    * @param m hash modulus (rate granularity 1/m)
    */
  def temperatureSample(df: DataFrame, strata: Column, key: Column,
      c: Int, m: Int = 1 << 20, hashBase: Long = 173L): DataFrame = {
    require(c > 0, "c sets the per-stratum budget; must be positive")
    require(c <= (1 << 10), "c*m must stay under 2^31 so (c*m)^2 fits a LONG")
    require(m > 0 && m <= (1 << 20), "u^2 must stay under 2^40 (see scaladoc)")
    val counts = df.groupBy(strata.as("graft_strat"))
      .agg(count(lit(1)).as("graft_n"))
    val u = pmod(TextOps.polyHash(key, hashBase), lit(m.toLong))
    // Null-safe equality: a NULL stratum forms a real group in `counts`,
    // and its rows must rejoin it (plain === drops them silently).
    df.join(broadcast(counts), strata <=> col("graft_strat"))
      .filter((u * u).cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
        col("graft_n") < lit(c.toLong * m) * lit(c.toLong * m))
      .drop("graft_strat", "graft_n")
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis "A-ES", Inf. Proc. Letters 2006): each row gets priority
    * `ln(u) / w` where `u ∈ (0,1)` is a content-hash uniform and `w > 0`
    * the row's weight; the k highest-priority rows are an exact weighted
    * sample without replacement. This is the one-pass formulation that
    * distributes: priorities are independent per-row expressions, so the
    * selection is a global top-k, not a sequential draw.
    *
    * `rand()`-free by design — `u` derives from [[TextOps.polyHash]] of
    * `key`, so the sample is reproducible across runs, partitionings, AND
    * engines (the reproducibility contract of the hash split / stratified
    * sampler, extended to weighted draws for dataset mixing by importance).
    * Use a `hashBase` distinct from the other sampling decisions so the
    * draws stay independent.
    *
    * Scale posture: orderBy+limit plans as TakeOrderedAndProject —
    * per-partition top-k then a k-sized driver merge, never a full sort;
    * the final `row_number` ranks only the k survivors. `tie` must be
    * unique (an id) so the rank is total.
    */
  def weightedSample(df: DataFrame, key: Column, weight: Column, tie: Column,
      k: Int, hashBase: Long = 151L): DataFrame = {
    require(k >= 1)
    val u = (TextOps.polyHash(key, hashBase) + 1).cast("double") /
      lit((TextOps.Prime + 1).toDouble)
    val pri = log(u) / weight.cast("double")
    val w = Window.orderBy(col("graft_pri").desc, tie.asc)
    df.withColumn("graft_pri", pri)
      .orderBy(col("graft_pri").desc, tie.asc)
      .limit(k)
      .withColumn("sample_rank", row_number().over(w).cast("int"))
      .drop("graft_pri")
  }

  /** Unigram-surprisal document scoring — the transcendental-free stand-in
    * for the perplexity quality filter every web-corpus pipeline runs: a
    * document full of corpus-rare tokens scores high (gibberish, boilerplate
    * IDs), one of common tokens low. Token surprisal −log₂ p(t) is taken at
    * INTEGER resolution: `bitlen(total) − bitlen(freq)` where `bitlen(n) =
    * length(bin(n)) = ⌊log₂ n⌋ + 1` — within ±1 bit of the real thing, and
    * exact integers in any engine (log/ln are the one float op IEEE 754
    * does NOT bit-specify, so the usual float formulation can never be
    * hash-gated; bit length can).
    *
    * Output: (doc_id, n_tokens, bits, avg_bits) — `bits` the summed integer
    * surprisal, `avg_bits` one exact-rounded long/long division at the end.
    *
    * Scale posture: one (token) hash aggregate for the unigram model, one
    * (token)-keyed join of the exploded stream against it (Catalyst
    * broadcasts the model when small; a 100 TB vocabulary shuffle-joins on
    * the high-cardinality token key), one (doc) aggregate. The corpus total
    * is a 1-row broadcast. No all-pairs stage, no driver loop.
    */
  def surprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
    val tf = t.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val total = t.agg(count(lit(1)).as("total"))
    val bits = (length(bin(col("total"))) - length(bin(col("freq")))).cast("long")
    t.join(tf, "token")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(bits).as("bits"))
      .select(col("doc_id"), col("n_tokens"), col("bits"),
        (col("bits").cast("double") / col("n_tokens")).as("avg_bits"))
  }

  /** Exact heavy hitters via the canonical two-pass sketch pipeline: pass 1
    * builds a bounded Misra–Gries summary ([[Sketches.mgCandidates]] with
    * capacity `threshDen`, so the MG undercount is at most
    * total/(threshDen+1) — STRICTLY below the threshold — and every item at
    * or above total·threshNum/threshDen is guaranteed a candidate, ties
    * included); pass 2 counts ONLY the
    * candidates exactly and keeps those truly above the threshold
    * (`cnt · threshDen ≥ total · threshNum` — integer cross-compare, no
    * float ratio). The output is therefore EXACT — identical to a full
    * GROUP BY + HAVING — but the full item vocabulary never shuffles:
    * pass 1 ships one O(k) summary per partition, pass 2 a broadcast
    * semi-join on the ≤ k candidates plus a candidate-only aggregate.
    * That is the 100 TB shape for "which tokens exceed 0.5% of the corpus".
    *
    * Output: (item, cnt, total) sorted by item.
    */
  def heavyHitters(items: DataFrame, itemCol: String,
      threshNum: Int, threshDen: Int): DataFrame = {
    require(threshNum >= 1 && threshDen > threshNum,
      "need a fractional threshold 0 < threshNum/threshDen < 1")
    val it = items.select(col(itemCol).as("item")).filter(col("item").isNotNull)
    // capacity k = threshDen ⇒ MG undercount ≤ total/(threshDen+1), strictly
    // below the threshold — an item meeting `cnt·threshDen ≥ total·threshNum`
    // keeps a positive stored count everywhere and cannot be evicted.
    val cands = it.agg(Sketches.mgCandidates(col("item"), threshDen).as("c"))
      .select(explode(col("c")).as("item"))
    val totals = it.agg(count(lit(1)).as("total"))
    it.join(broadcast(cands), "item")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") * threshDen >= col("total") * threshNum)
      .select(col("item"), col("cnt"), col("total"))
  }

  /** Concat-and-split sequence packing — the standard pretraining batch
    * prep: documents are concatenated into token streams and the stream is
    * cut into fixed `seqLen` training sequences, so no sequence is padded
    * and every token is used. This operator computes the packing LAYOUT:
    * for each document, its stream, its token offset in that stream, and
    * the first/last sequence indices it lands in (a document straddling a
    * cut contributes to both neighbors, exactly like the real concat).
    *
    * Documents are dealt round-robin into `nStreams` independent streams by
    * `doc_id % nStreams` and packed within a stream in `doc_id` order — the
    * layout is a pure function of the ids, reproducible across runs,
    * partitionings, and engines (same contract as the hash split).
    *
    * Output: (doc_id, stream, n_tokens, start_off, first_seq, last_seq,
    * n_seqs_spanned); sequence indices are per-stream.
    *
    * Scale posture: ONE shuffle keyed on `stream` for the running-offset
    * window; a single global stream would serialize the cumulative sum on
    * one partition (the classic global-window bottleneck), so `nStreams` is
    * the parallelism knob — set it ≳ cluster cores at 100 TB; each stream
    * then sorts and scans its own shard independently.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int, nStreams: Int): DataFrame = {
    require(seqLen >= 1 && nStreams >= 1)
    val d = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        (col(idCol) % nStreams).as("stream"),
        TextStats.nTokens(col(textCol)).as("n_tokens"))
    val w = Window.partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("stream"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $seqLen").as("first_seq"),
        expr(s"(start_off + n_tokens - 1) div $seqLen").as("last_seq"))
      .withColumn("n_seqs_spanned", col("last_seq") - col("first_seq") + 1)
  }

  /** Fixed-size token chunking with overlap — the context-window prep step
    * of a training/RAG pipeline: each document's token sequence is cut into
    * windows of `chunkSize` tokens advancing by `step = chunkSize − overlap`,
    * the final window keeping its (possibly shorter) tail. Tokenization is
    * [[TextOps.tokens]] (single-space split), so chunk boundaries land
    * between tokens, never inside one. Documents with at most `chunkSize`
    * tokens yield exactly one chunk (their full text); otherwise
    * `⌈(nt − chunkSize)/step⌉ + 1` chunks — all integer arithmetic (`div`),
    * no float rounding anywhere.
    *
    * Output: (doc_id, chunk_id 0.., n_chunk_tokens, chunk_text).
    *
    * Scale posture: a pure per-row generate with NO shuffle — chunking
    * 100 TB is embarrassingly parallel and this plan keeps it that way. The
    * token array is bound ONCE per row ahead of the explode; the Generate
    * boundary blocks projection collapse, so `split` is not re-inlined into
    * the per-chunk slices (the O(len·chunks) trap — see
    * [[TextOps.wordShinglesHof]]). Per-chunk work is one O(chunkSize)
    * `slice` + `array_join`; the tail-chunk length comes from arithmetic
    * (`least(nt − i·step, chunkSize)`), not a second slice.
    */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be >= 1")
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("graft_toks"))
    val nChunks = expr(
      s"(greatest(size(graft_toks) - $chunkSize, 0L) + ${step - 1}) div $step + 1")
    val nt = size(col("graft_toks")).cast("long")
    base
      .select(col("doc_id"), col("graft_toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        least(nt - col("chunk_id") * step, lit(chunkSize.toLong))
          .as("n_chunk_tokens"),
        array_join(
          slice(col("graft_toks"), (col("chunk_id") * step + 1).cast("int"),
            lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Tokenize the corpus against a learned vocabulary — the step between
    * vocabulary construction (`q_vocab_build`) and sequence packing: each
    * document's token stream becomes an id sequence; out-of-vocabulary
    * tokens map to `oovId`. The per-token join result is reassembled IN
    * DOCUMENT ORDER by sorting (pos, id) structs — order is carried as
    * data, never assumed from partitioning (collect_list alone has no
    * ordering contract).
    *
    * Output: (doc_id, n_tokens, ids ARRAY<BIGINT>).
    *
    * Scale posture: posexplode → one equi-join keyed on token (Catalyst
    * broadcasts a bounded vocab; a 100 TB vocabulary shuffle-joins on the
    * high-cardinality key) → one doc-keyed aggregate. No driver loop, no
    * UDF; the sort inside `array_sort` is per-row over one document's
    * tokens.
    *
    * The join keys on the compiled 60-bit token hash, not the token string
    * (r20 VERDICT item 2: "join on hashed token — decode never needed
    * since output is ids"): corpus-side per-token rows are (doc_id, pos,
    * LONG), so the explode → join → aggregate path allocates zero heap
    * strings per token; the vocab side hashes its (bounded) token column
    * once. Identical output as long as the hash separates the corpus
    * vocabulary (60 bits — see [[SimHash.tokenWideHashes]]); an OOV token
    * still maps to `oovId` because only vocab hashes can match.
    */
  def tokenizeToIds(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, tokenCol: String = "token", tokenIdCol: String = "token_id",
      oovId: Long = -1L): DataFrame = {
    val ex = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(SimHash.tokenWideHashes(col(textCol))).as(Seq("pos", "graft_h")))
    ex.join(vocab.select(TextOps.wideHash(col(tokenCol)).as("graft_h"),
          col(tokenIdCol).as("graft_id")),
        Seq("graft_h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_sort(collect_list(struct(col("pos"), coalesce(col("graft_id"), lit(oovId))
          .as("id")))).as("graft_ps"))
      .select(col("doc_id"), col("n_tokens"),
        transform(col("graft_ps"), p => p.getField("id")).as("ids"))
  }

  /** Length-bucketed batch assignment — the padding-efficiency prep for
    * non-packed training/inference: documents are bucketed by token count
    * (`bucket = n_tokens div bucketWidth`) and each (bucket, stream) is cut
    * into batches of `batchSize` in (n_tokens, doc_id) order, so a batch
    * only ever pads to its own bucket's width. The assignment is a pure
    * function of the corpus (deterministic order, no rand()), reproducible
    * across runs, partitionings, and engines.
    *
    * Output: (doc_id, n_tokens, bucket, stream, batch_idx, pad_to) —
    * `pad_to` the bucket-max width a batch pads to, `batch_idx` per
    * (bucket, stream).
    *
    * Scale posture: one shuffle keyed on (bucket, stream) for the ranking
    * window. Bucket count alone is SMALL (tens), so ranking per bucket
    * would serialize a 100 TB corpus through a handful of partitions — the
    * same global-cumsum trap [[packSequences]] documents. `nStreams` is the
    * same knob: documents deal round-robin into `doc_id % nStreams`
    * independent streams per bucket and batches form within a stream (a
    * batch never mixes streams — batching is a partitioning choice, not an
    * ordering contract). Set it ≳ cluster cores at scale; 1 keeps the
    * single-stream layout.
    */
  def lengthBatches(docs: DataFrame, idCol: String, textCol: String,
      bucketWidth: Int, batchSize: Int, nStreams: Int = 1): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1 && nStreams >= 1)
    val nt = TextStats.nTokens(col(textCol))
    val w = Window.partitionBy(col("bucket"), col("stream"))
      .orderBy(col("n_tokens").asc, col("doc_id").asc)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), nt.as("n_tokens"))
      .withColumn("bucket", (col("n_tokens") / bucketWidth).cast("long"))
      .withColumn("stream", pmod(col("doc_id"), lit(nStreams.toLong)))
      .withColumn("batch_idx",
        ((row_number().over(w) - 1) / batchSize).cast("long"))
      .withColumn("pad_to", (col("bucket") + 1) * bucketWidth - 1)
  }

  /** Token-balanced shard assignment — the training-EXPORT layout knob
    * beside [[lengthBatches]] (padding efficiency) and the epoch shuffle
    * (unbiased order, q_epoch_shuffle): deal documents into `nShards`
    * shards whose TOKEN TOTALS come out near-equal, so N downstream
    * consumers (tokenizer workers, trainer data streams) finish together
    * instead of idling behind the shard that drew the long documents —
    * the straggler tax a content-hash `mod N` shard pays whenever doc
    * lengths are skewed (which a real corpus's always are).
    *
    * Construction: documents take their 1-based [[RankOps.globalRank]] in
    * (n_tokens DESC, doc_id ASC) total order — the two-phase zipWithIndex
    * shape, never a single-partition window — and the shard is SNAKE
    * (boustrophedon) order over that rank: round `r = (rank−1) div
    * nShards` deals left-to-right when even, right-to-left when odd.
    * The guarantee is STRUCTURAL: every shard draws exactly one document
    * per round (so the k largest documents spread one-per-shard across
    * the first k/nShards rounds — hash sharding instead co-locates
    * whales whenever their ids collide mod N, a birthday-certain event),
    * and consecutive rounds sweep in opposite directions, so the
    * down-sweep's large pick pairs with the up-sweep's small one and
    * smooth length decay cancels. It is NOT LPT: a single head document
    * dwarfing its round keeps a spread of that document's order. Pure
    * integer arithmetic over the rank — deterministic,
    * engine-reproducible, oracle-gateable.
    *
    * Output: (doc_id, n_tokens, shard). Per-shard totals are one
    * aggregate away; the balance property (max−min shard token spread vs
    * the hash shard's) is spec-pinned on a skewed fixture.
    *
    * Scale posture: the cost is [[RankOps.globalRank]]'s — one range
    * shuffle of (doc_id, n_tokens) pairs (NOT the text; tokens count in a
    * projected two-column frame) plus its O(#partitions) count job. The
    * snake arithmetic adds nothing. Null text is excluded (no token
    * count), matching [[lengthBatches]].
    */
  def balancedShards(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"need at least one shard, got $nShards")
    val nt = TextStats.nTokens(col(textCol))
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), nt.as("n_tokens"))
    val ranked = RankOps.globalRank(
      base, Seq(col("n_tokens").desc, col("doc_id").asc), "graft_rk")
    val rn = col("graft_rk") - lit(1L)
    // Integer floor-div (TemporalJoins.floorDiv), not `/`+cast: `/` is
    // double division, exact only to 2^53 — the rank is a long and the
    // round must be too.
    val round = TemporalJoins.floorDiv(rn, nShards.toLong)
    val pos = pmod(rn, lit(nShards.toLong))
    val shard = when(pmod(round, lit(2L)) === 0L, pos)
      .otherwise(lit(nShards.toLong - 1L) - pos)
    ranked.select(col("doc_id"), col("n_tokens"),
      shard.cast("int").as("shard"))
  }

  /** One BPE merge applied to a symbol array: the greedy left-to-right
    * NON-OVERLAPPING fold — `[a,b,b,a,b]` under (a,b) → `[ab,b,ab]`.
    * Shared by the trainer and the encoder so both segment identically.
    */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    when(size(syms) < 2, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        slice(syms, lit(1), lit(1)),
        (acc, x) => when(
            element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x)))))

  /** The corpus word-frequency table as (syms ARRAY<STRING>, wc) — chars of
    * each distinct word, weighted by occurrence count. The ONLY contact the
    * BPE trainer/encoder have with the corpus.
    */
  private def wordFreqSyms(docs: DataFrame, textCol: String): DataFrame = docs
    .select(explode(TextOps.tokens(col(textCol))).as("w"))
    .filter(length(col("w")) > 0)
    .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    .select(col("w"), filter(split(col("w"), ""), x => length(x) > 0).as("syms"),
      col("wc"))

  /** Learn the first `numMerges` BPE merge rules over the corpus — the
    * byte-pair-encoding trainer (Sennrich et al., ACL'16) that produces the
    * subword vocabulary [[tokenizeToIds]]-style tokenization consumes.
    * Returns one row per learned rule: `(rank, lft, rgt, freq)` in learning
    * order.
    *
    * Scale posture — the standard trick every public BPE trainer uses: the
    * corpus is touched EXACTLY ONCE, to build the word-frequency table
    * (one combiner-reduced hash aggregate; vocabulary-bounded output). All
    * `numMerges` iterations then run over that small weighted table:
    * adjacent-pair counts are an explode + hash aggregate weighted by word
    * count, the best pair is a TakeOrdered argmax (freq desc, then
    * lexicographic — a total order, so the learned rules are deterministic
    * and oracle-gateable), and the merge is applied with a per-row greedy
    * left-to-right fold (`aggregate`), non-overlapping exactly like the
    * reference implementation — `[a,b,b,a,b]` under (a,b) → `[ab,b,ab]`.
    * Each iteration's vocab is persisted so iteration r+1 folds over r's
    * cached rows, not a replayed lineage; driver traffic is one
    * (lft, rgt, freq) row per iteration.
    */
  def learnBpeMerges(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    val vocab0 = wordFreqSyms(docs, textCol).select(col("syms"), col("wc"))
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    try {
      var vocab = vocab0.persist()
      persisted += vocab
      var r = 1
      var exhausted = false
      while (r <= numMerges && !exhausted) {
        val best = vocab.filter(size(col("syms")) >= 2)
          .select(col("wc"), explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1).as("lft"),
            slice(col("syms"), lit(2), size(col("syms")) - 1).as("rgt"))).as("p"))
          .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
          .agg(sum(col("wc")).as("freq"))
          .orderBy(col("freq").desc, col("lft").asc, col("rgt").asc)
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, rt, f) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((r, l, rt, f))
          vocab = vocab.withColumn("syms", applyMerge(col("syms"), l, rt))
            .persist()
          persisted += vocab
          r += 1
        }
      }
    } finally persisted.foreach(_.unpersist(blocking = false))
    spark.createDataFrame(merges.toSeq).toDF("rank", "lft", "rgt", "freq")
  }

  /** BPE encoder: segment every corpus word by replaying `merges` (the
    * trainer's output, in learning order) over its character sequence —
    * each merge the same greedy fold the trainer applied, so
    * `bpeSegment(docs, learnBpeMerges(docs, k))` reproduces the trainer's
    * final vocabulary state exactly. Returns one row per DISTINCT word:
    * `(word, wc, syms ARRAY<STRING>)`; concatenating `syms` restores
    * `word` (BPE segmentation is lossless by construction).
    *
    * The merge rules are DATA, not expression structure: one outer
    * `aggregate` folds a literal ARRAY<STRUCT<lft,rgt>> over the symbol
    * array, the inner fold applying each rule exactly like the trainer's
    * [[applyMerge]]. Expression depth is constant in k — k chained
    * `withColumn(applyMerge…)` layers would CollapseProject-inline into an
    * exponentially duplicated tree (measured: ~2 min for k=6 at sf0.01 vs
    * seconds for this form), and a ruleset change would rebuild the plan.
    *
    * Scale: one corpus scan (the [[wordFreqSyms]] hash aggregate), then a
    * single per-row fold over the vocabulary-bounded table — no shuffle
    * after the aggregate, no join against the corpus.
    */
  def bpeSegment(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    wordFreqSyms(docs, textCol)
      .select(col("w").as("word"), col("wc"), bpeFoldSyms(merges).as("syms"))

  /** The [[bpeSegment]] replay fold as a Column over `syms` (the word's
    * symbol array): each merge rule applies the same greedy left-to-right
    * non-overlapping fold the trainer used. Factored out so callers that
    * already hold a word table ([[tokenizerFertility]]) can segment it
    * without a second corpus scan.
    */
  private def bpeFoldSyms(merges: Seq[(String, String)]): Column = {
    val mergesCol = array(merges.map { case (l, r) =>
      struct(lit(l).as("lft"), lit(r).as("rgt")) }: _*)
    if (merges.isEmpty) col("syms")
    else aggregate(mergesCol, col("syms"), (acc, m) =>
      when(size(acc) < 2, acc).otherwise(
        aggregate(
          slice(acc, lit(2), size(acc) - 1),
          slice(acc, lit(1), lit(1)),
          (a, x) => when(
              element_at(a, -1) === m.getField("lft") && x === m.getField("rgt"),
              concat(slice(a, lit(1), size(a) - 1),
                array(concat(m.getField("lft"), m.getField("rgt")))))
            .otherwise(concat(a, array(x))))))
  }

  /** Per-group TOKENIZER FERTILITY — the standard multilingual
    * tokenizer-eval statistic (Ács 2019; Rust et al., ACL'21: "how many
    * subwords does the tokenizer spend per word, per language"): a
    * learned subword vocabulary that serves one language at ~1.2
    * subwords/word and another at ~4 starves the second of effective
    * context, and this table is the measurement that catches it before
    * training does.
    *
    * Per `groupCol` (typically language): exact token-weighted totals
    *   n_words     Σ word occurrences
    *   n_subwords  Σ wc · |segment(word)|   (the [[bpeSegment]] fold
    *               under the caller's learned merges)
    *   n_chars     Σ wc · length(word)      (code points)
    *   n_bytes     Σ wc · octet_length(word) (UTF-8 bytes)
    * and the three ratios — fertility = n_subwords/n_words,
    * bytes_per_subword, chars_per_subword — each ONE IEEE division of
    * exact integers, so every column hash-gates.
    *
    * Scale posture: segmentation is language-INDEPENDENT given the
    * merges, so DISTINCT words segment once (vocabulary-bounded — the
    * same only-touch-the-corpus-once trick the trainer uses) and join
    * word-keyed onto the combiner-reduced (group, word) count aggregate;
    * no per-document segmentation ever runs. The corpus is scanned
    * EXACTLY ONCE: the (group, word) count table materializes once
    * (lazy checkpoint, the [[tokenBudgetMix]] convention) and the
    * distinct-word table the segmenter folds over derives from IT
    * (`gw.groupBy(word)` — vocabulary-sized input) rather than from
    * [[bpeSegment]]'s own corpus scan and a second string-keyed
    * corpus-wide aggregate.
    */
  def tokenizerFertility(docs: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val gw = docs
      .select(col(groupCol).as("grp"), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("grp"), col("word")).agg(count(lit(1)).as("wc"))
      .ckptLazy
    // Same distinct-word set bpeSegment's wordFreqSyms would build (both
    // drop NULL texts via explode and empty words via the length filter),
    // but derived from the already-counted table, not a second scan.
    val segs = gw.select(col("word")).distinct()
      .select(col("word"),
        filter(split(col("word"), ""), x => length(x) > 0).as("syms"))
      .select(col("word"), size(bpeFoldSyms(merges)).cast("long").as("graft_nsub"))
    gw.join(segs, Seq("word"))
      .groupBy(col("grp"))
      .agg(sum(col("wc")).as("n_words"),
        sum(col("wc") * col("graft_nsub")).as("n_subwords"),
        sum(col("wc") * length(col("word")).cast("long")).as("n_chars"),
        sum(col("wc") * octet_length(col("word")).cast("long")).as("n_bytes"))
      .select(col("grp").as(groupCol), col("n_words"), col("n_subwords"),
        col("n_chars"), col("n_bytes"),
        (col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_bytes").cast("double") / col("n_subwords").cast("double"))
          .as("bytes_per_subword"),
        (col("n_chars").cast("double") / col("n_subwords").cast("double"))
          .as("chars_per_subword"))
  }

  /** Deterministic in-batch negative sampling for contrastive training:
    * each query draws its `k` negatives from the candidates hashing into
    * the query's OWN bucket (`polyHash(query) % nBuckets` — the
    * distributed analogue of "the other examples in my batch"), ranked by
    * a pair hash so the draw is stable across runs, engines, and
    * partitionings (`rand()` negatives are none of those). A query's own
    * positives are excluded by an anti-join on the full pair list, so
    * multi-positive queries never leak a positive as a negative.
    * Contract: queries and candidates share one id space (the in-batch
    * setting — anchors ARE corpus members), so a candidate equal to the
    * query id is excluded as "itself"; cross-space callers must remap ids
    * first (the [[VectorOps.pqSearch]] contract).
    *
    * Scale shape: ONE equi-join of queries against bucket-keyed
    * candidates (per-query candidate fan-out = |candidates|/nBuckets —
    * nBuckets is the scale knob), one anti-join, one per-query window
    * over the bounded candidate set. No all-pairs product anywhere.
    *
    * Output: (queryCol, neg_id, rank), rank 1..k by ascending pair hash;
    * a bucket with fewer than k eligible candidates yields fewer rows.
    */
  def inBatchNegatives(
      pairs: DataFrame,
      queryCol: String,
      posCol: String,
      candidates: DataFrame,
      candCol: String,
      k: Int,
      nBuckets: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val q = pairs.select(col(queryCol).as("__q"), col(posCol).as("__pos"))
    val queries = q.select(col("__q")).distinct()
      .withColumn("__bkt",
        pmod(TextOps.polyHash(col("__q").cast("string")), lit(nBuckets.toLong)))
    val cands = candidates.select(col(candCol).as("__c")).distinct()
      .withColumn("__bkt",
        pmod(TextOps.polyHash(col("__c").cast("string")), lit(nBuckets.toLong)))
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("__ph"), col("__c"))
    queries.join(cands, "__bkt")
      .filter(col("__q") =!= col("__c"))
      .join(q.select(col("__q"), col("__pos").as("__c")),
        Seq("__q", "__c"), "left_anti")
      .withColumn("__ph", TextOps.polyHash(
        concat(col("__q").cast("string"), lit(":"), col("__c").cast("string"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__q").as(queryCol), col("__c").as("neg_id"), col("rank"))
  }

  /** Token-budget source mixing — the down-sampling stage of a training-data
    * mix ("take B_s tokens from source s"): within each group, documents are
    * taken in deterministic content-hash order until the group's token
    * budget is exhausted (greedy prefix: a doc is kept iff the running total
    * through it still fits). Hash order makes the draw stable across runs,
    * engines, and partitionings (the `rand()` trap) and unbiased w.r.t.
    * storage order. Budgets arrive as data; groups without a budget are
    * DROPPED — an unconfigured source must never leak into a training mix.
    * Null-text docs are excluded (no token count exists for them).
    *
    * Scale posture — the naive form is one window cumsum per group, i.e. a
    * SINGLE TASK scans each source's whole corpus slice (the global-cumsum
    * trap `packSequences` documents). Instead the hash order is refined in
    * two phases, provably identical output:
    *   1. a combiner-reduced census of token totals per (group,
    *      hash-bucket), where `bucket = h / ceil(Prime/hashBuckets)` is
    *      MONOTONE in the hash order — the census is groups × hashBuckets
    *      rows, and its per-group running total finds each group's boundary
    *      bucket driver-free (broadcast back);
    *   2. buckets wholly inside the budget keep every doc with no per-row
    *      work; buckets wholly past it drop likewise; ONLY the single
    *      boundary bucket per group (≈ 1/hashBuckets of the slice) runs the
    *      row-level cumsum, offset by the census prefix.
    * Equivalence: with P(b) = tokens in buckets < b, a doc in bucket b has
    * running total in (P(b), P(b+1)]; `P(b+1) ≤ B` keeps the whole bucket,
    * `P(b) > B` drops it, and the one bucket straddling B is exactly the
    * row-level case. Proven against the naive window in CorpusOpsSpec.
    *
    * @return (idCol, groupCol, n_tokens) of the kept documents
    */
  def tokenBudgetMix(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      textCol: String,
      budgets: Seq[(String, Long)],
      hashBase: Long = 193L,
      hashBuckets: Int = 1024): DataFrame = {
    require(hashBuckets >= 1, "hashBuckets must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val width = (TextOps.Prime + hashBuckets - 1) / hashBuckets
    // Lazy checkpoint: `n` (the full tokenize + polyHash pass over the
    // corpus) feeds BOTH the census aggregate and the classed join below —
    // without it the whole scan+tokenize runs twice (the double-generator
    // trap incrementalComponents guards against the same way). Lazy, so the
    // first action materializes it once and the second consumer reuses it.
    val n = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("tb_id"), col(groupCol).as("tb_grp"),
        TextStats.nTokens(col(textCol)).as("n_tokens"),
        TextOps.polyHash(col(textCol), hashBase).as("tb_h"))
      .join(broadcast(budgets.toDF("tb_grp", "tb_budget")), Seq("tb_grp"))
      .withColumn("tb_bkt", (col("tb_h") / lit(width)).cast("long"))
      .ckptLazy
    val census = n.groupBy(col("tb_grp"), col("tb_bkt"))
      .agg(sum(col("n_tokens")).as("bkt_tokens"))
    val wb = Window.partitionBy(col("tb_grp")).orderBy(col("tb_bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = census
      .withColumn("p_after", sum(col("bkt_tokens")).over(wb))
      .withColumn("p_before", col("p_after") - col("bkt_tokens"))
      .select(col("tb_grp"), col("tb_bkt"), col("p_before"), col("p_after"))
    val classed = n.join(broadcast(cuts), Seq("tb_grp", "tb_bkt"))
    val keepWhole = classed.filter(col("p_after") <= col("tb_budget"))
    val wr = Window.partitionBy(col("tb_grp")).orderBy(col("tb_h"), col("tb_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = classed
      .filter(col("p_before") <= col("tb_budget") && col("p_after") > col("tb_budget"))
      .withColumn("tb_cum", col("p_before") + sum(col("n_tokens")).over(wr))
      .filter(col("tb_cum") <= col("tb_budget"))
    keepWhole.select(col("tb_id"), col("tb_grp"), col("n_tokens"))
      .unionByName(boundary.select(col("tb_id"), col("tb_grp"), col("n_tokens")))
      .select(col("tb_id").as(idCol), col("tb_grp").as(groupCol), col("n_tokens"))
  }

  /** Reference formulation of [[tokenBudgetMix]] as the naive per-group
    * window cumsum — the executable spec the two-phase plan must stay
    * row-identical to (CorpusOpsSpec), and the shape the DuckDB oracle
    * mirrors 1:1. Single task per group — never run this form at scale.
    */
  private[graft] def tokenBudgetMixNaive(
      docs: DataFrame, idCol: String, groupCol: String, textCol: String,
      budgets: Seq[(String, Long)], hashBase: Long = 193L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("tb_grp")).orderBy(col("tb_h"), col("tb_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("tb_id"), col(groupCol).as("tb_grp"),
        TextStats.nTokens(col(textCol)).as("n_tokens"),
        TextOps.polyHash(col(textCol), hashBase).as("tb_h"))
      .join(broadcast(budgets.toDF("tb_grp", "tb_budget")), Seq("tb_grp"))
      .withColumn("tb_cum", sum(col("n_tokens")).over(w))
      .filter(col("tb_cum") <= col("tb_budget"))
      .select(col("tb_id").as(idCol), col("tb_grp").as(groupCol), col("n_tokens"))
  }

  /** The DSIR model as a dense bucket→term array for ROW-LOCAL scoring:
    * entry `b` is the per-token log-ratio contribution
    * `bits(ct_b+1) − bits(cr_b+1) + bits(R+B) − bits(T+B)` with the
    * model-size normalizers FOLDED IN, so a document's weight is simply
    * the sum of its tokens' entries — exactly [[dsirWeights]]' integers
    * rearranged (Σterm + n·norm = Σ(term + norm)). Buckets unseen in the
    * corpus carry the pure normalizer (ct = cr = 0 ⇒ bits(1) − bits(1) =
    * 0), so any token a FUTURE document brings still scores.
    *
    * This is the online-scoring half of the operator pair: the array is
    * O(buckets) (driver-bounded by the `buckets` parameter the caller
    * chose — 512 longs here, never data-sized), embeds as a literal in
    * [[dsirScore]], and turns scoring into a pure per-row expression — no
    * join, no shuffle, no state: the shape a Structured Streaming
    * micro-batch can run forever.
    */
  def dsirModelTerms(docs: DataFrame, textCol: String,
      isTarget: Column, buckets: Int = 512): Array[Long] = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20] (the model array is driver-resident), got $buckets")
    def bits(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val tok = docs
      .filter(col(textCol).isNotNull && col(textCol) =!= "")
      .select(isTarget.as("ds_tgt"),
        explode(TextOps.tokens(col(textCol))).as("ds_tok"))
      .select((TextOps.polyHash(col("ds_tok")) % buckets).as("ds_b"), col("ds_tgt"))
    val lm = tok.groupBy(col("ds_b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("ds_tgt"), 1L).otherwise(0L)).as("ct")).collect()
    val rTot = lm.map(_.getLong(1)).sum
    val tTot = lm.map(_.getLong(2)).sum
    val norm = bits(rTot + buckets) - bits(tTot + buckets)
    val terms = Array.fill(buckets)(norm)
    lm.foreach { row =>
      val b = row.getLong(0).toInt
      terms(b) = bits(row.getLong(2) + 1) - bits(row.getLong(1) + 1) + norm
    }
    terms
  }

  /** Row-local DSIR weight of `textCol` under a [[dsirModelTerms]] model:
    * a single compiled fold over the token array against the embedded
    * term table — Σ terms(hash(token) mod B). Identical integers to
    * [[dsirWeights]] for the same corpus split (spec-pinned). NULL/empty
    * text scores NULL (no tokens, no evidence) — filter upstream, as the
    * batch operator does.
    */
  def dsirScore(textCol: Column, terms: Array[Long]): Column = {
    val tbl = array(ArraySeq.unsafeWrapArray(terms.map(lit(_))): _*)
    aggregate(TextOps.tokens(textCol), lit(0L),
      (acc, tk) => acc + element_at(tbl,
        (TextOps.polyHash(tk) % terms.length).cast("int") + 1))
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every raw document by the
    * log-likelihood ratio of its hashed-unigram bag under a target-corpus
    * unigram LM vs the raw-corpus unigram LM,
    *
    *   w(doc) = Σ_tok [log p_tgt(b(tok)) − log p_raw(b(tok))]
    *
    * with `b` a polynomial hash into `buckets` buckets and add-1 smoothing
    * on both models — then keep the highest-weight documents ("is this raw
    * document distributed like the high-quality target?"). The target
    * corpus is the subset of `docs` where `isTarget` holds (in production,
    * a trusted reference corpus unioned in with the flag set).
    *
    * Logs are at INTEGER log₂ resolution via bit lengths —
    * `length(bin(c+1))` — the same formulation [[surprisal]] gates: it is
    * the only log both engines compute bit-identically, and DSIR's
    * selection consumes only the ORDER of weights, where coarse resolution
    * costs ties, not bias (break ties deterministically downstream). The
    * model-size normalizers stay in the sum (n_tokens · [bits(R+B) −
    * bits(T+B)]) so documents of different lengths rank on comparable
    * weights, exactly as the paper's summed per-token ratio does.
    *
    * Scale posture: one combiner-reduced aggregate keyed on the bucket id
    * (≤ `buckets` rows of state — the two LMs), broadcast of that
    * bucket table back over the token stream, one keyed aggregate per doc.
    * No windows, no driver-side model. Selection downstream is a
    * TakeOrdered top-k, never a full sort.
    *
    * Output: (idCol, n_tokens, weight) — weight is an exact BIGINT; higher
    * means more target-like. Empty/null texts are excluded (no tokens, no
    * evidence).
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 512): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tok = docs
      .filter(col(textCol).isNotNull && col(textCol) =!= "")
      .select(col(idCol).as("ds_id"), isTarget.as("ds_tgt"),
        explode(TextOps.tokens(col(textCol))).as("ds_tok"))
      .withColumn("ds_b", TextOps.polyHash(col("ds_tok")) % buckets)
    val lm = tok.groupBy(col("ds_b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("ds_tgt"), 1L).otherwise(0L)).as("ct"))
    val totals = lm.agg(sum(col("cr")).as("ds_r"), sum(col("ct")).as("ds_t"))
    val term = lm.select(col("ds_b"),
      (length(bin(col("ct") + 1L)) - length(bin(col("cr") + 1L)))
        .cast("long").as("ds_term"))
    tok.join(broadcast(term), Seq("ds_b"))
      .groupBy(col("ds_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("ds_term")).as("ds_s"))
      .crossJoin(broadcast(totals))
      .select(col("ds_id").as(idCol), col("n_tokens"),
        (col("ds_s") + col("n_tokens") *
          (length(bin(col("ds_r") + buckets.toLong)) -
           length(bin(col("ds_t") + buckets.toLong))).cast("long")).as("weight"))
  }

  /** Duplicated-SPAN profile — the substring-level dedup shape of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), at token-window resolution: every length-`w` token window
    * whose 60-bit content hash occurs ≥ `minDf` times ANYWHERE in the
    * corpus (other documents or a repeat within the same one) marks its
    * positions duplicated; overlapping marked windows merge into maximal
    * spans (gaps-and-islands over the running interval max), and each
    * document reports how many tokens survive span removal. Unlike
    * whole-doc dedup this catches the boilerplate/quotation case where a
    * unique document CONTAINS a duplicated passage.
    *
    * Shape: positional n-grams are a per-row generate (the [[wordNgramsAll]]
    * let-binding — O(w·tokens) per doc, no quadratic re-split); the df
    * count is one combiner-reduced aggregate keyed on the window hash; the
    * join back is hash-keyed; interval merging is a per-DOCUMENT window
    * over that document's duplicated positions only. No global sort, no
    * driver state.
    *
    * Output: (doc_id, n_tokens, n_spans, dup_tokens, kept_tokens) for
    * every non-empty document — zero spans for clean docs; docs shorter
    * than `w` tokens have no windows and are trivially clean.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int, minDf: Int = 2): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    require(minDf >= 2, s"a duplicated window has df >= 2, got $minDf")
    val base = docs.filter(col(textCol).isNotNull && col(textCol) =!= "")
    val grams = base.select(col(idCol).as("sp_id"),
        posexplode(wordNgramsAll(col(textCol), w)).as(Seq("pos", "gram")))
      .select(col("sp_id"), col("pos").cast("long").as("pos"),
        TextOps.wideHash(col("gram")).as("h"))
    val dupH = grams.groupBy(col("h")).agg(count(lit(1)).as("hdf"))
      .filter(col("hdf") >= minDf).select(col("h"))
    val dupPos = grams.join(dupH, Seq("h")).select(col("sp_id"), col("pos"))
    val wPrev = Window.partitionBy(col("sp_id")).orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("sp_id")).orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = dupPos
      .withColumn("rmax", max(col("pos") + w).over(wPrev))
      .withColumn("flag",
        when(col("rmax").isNull || col("pos") > col("rmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("flag")).over(wRun))
    val spans = islands.groupBy(col("sp_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + w).as("e"))
    val perDoc = spans.groupBy(col("sp_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("dup_tokens"))
    base.select(col(idCol).as("sp_id"),
        TextStats.nTokens(col(textCol)).as("n_tokens"))
      .join(perDoc, Seq("sp_id"), "left")
      .select(col("sp_id").as(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L))).as("kept_tokens"))
  }

  /** Frequent itemsets up to size 3 over per-document DISTINCT token sets
    * — Apriori (Agrawal–Srikant VLDB'94) in its distributed form: the
    * collocation/market-basket miner ("which tokens systematically
    * co-occur in documents"), the set-valued complement of the sequential
    * bigram LM.
    *
    * Level-wise with monotonicity doing the pruning at every step:
    *  - F1 is one combiner-reduced document-frequency aggregate;
    *  - candidate PAIRS are generated per document but only over tokens
    *    that survived F1 (the join with f1 prunes before the quadratic
    *    step), then one hash aggregate + support filter → F2;
    *  - candidate TRIPLES are the classic self-join of each document's
    *    FREQUENT pairs sharing their middle item ((a,b) ⋈ (b,c), a<b<c),
    *    with the third face (a,c) checked against F2 BEFORE counting —
    *    every k=3 candidate thus has all three sub-pairs frequent, the
    *    full Apriori prune, and only then is support counted.
    *
    * Per-document work is bounded by the document's F1-surviving distinct
    * tokens (k ⇒ C(k,2) pair rows), all joins are id- or item-keyed
    * equi-joins, and nothing ever enumerates the vocabulary's cross
    * product. Support is an absolute document count (exact integers).
    * Monotonicity makes the prune lossless: a frequent triple's sub-pairs
    * are frequent, so the output equals the unpruned definition the
    * oracle computes.
    *
    * Output: (k 1..3, item1, item2, item3, support) — item2/item3 NULL
    * below their size; one row per frequent itemset.
    *
    * Shared-subtree memos (r15 ADVICE): the tokenized doc sets feed F1 AND
    * the F1-pruned explode; the candidate-pair stream feeds F2 AND the
    * triple generator; F2 feeds three consumers. The lazy checkpoints
    * make each computed exactly once (plan audit: zero parquet re-scans
    * after the memo). Honestly measured at sf0.1: wall time is ~unchanged
    * (~4.4 s warm — the cost is the intrinsic C(k,2)/triple candidate
    * work, not recomputation), but at scale the memo removes the
    * re-tokenize of the full corpus per Apriori level. All memos are
    * corpus-linear or smaller.
    */
  def frequentItemsets(docs: DataFrame, idCol: String, textCol: String,
      minSupport: Int): DataFrame =
    itemsetsFrom(tokenSets(docs, idCol, textCol), minSupport)

  /** [[frequentItemsets]] with RELATIVE support ⌊docs·supNum/supDen⌋
    * (min 1): folds the caller's separate doc-count scan into the staged
    * memo — the count action materializes the tokenized sets once and
    * every Apriori level reuses them. */
  def frequentItemsetsRel(docs: DataFrame, idCol: String, textCol: String,
      supNum: Int, supDen: Int): DataFrame = {
    require(supNum >= 1 && supDen >= supNum,
      s"need 1 <= supNum <= supDen, got $supNum/$supDen")
    val base = tokenSets(docs, idCol, textCol)
    val minSupport = math.max(1L, base.count() * supNum / supDen).toInt
    itemsetsFrom(base, minSupport)
  }

  private def tokenSets(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("fi_id"),
        array_distinct(TextOps.tokens(col(textCol))).as("toks"))
      .ckptLazy

  /** The level-wise Apriori body. Candidate pairs and triples are carried
    * as PRIMITIVE LONG keys, not multi-column string rows (the r19
    * PackedShingles move, VERDICT item 3): tokens are encoded ONCE to
    * dense integer ids — [[RankOps.globalRank]] over the F1 survivors in
    * token order, the two-phase zipWithIndex shape, never a
    * single-partition window — and the whole candidate stream (the
    * C(k,2)-per-doc inner loop that dominates the operator) flows as
    * 8-byte `i1 << 32 | i2` keys. The string form allocated two
    * heap-copied strings per candidate row into the checkpoint, the hash
    * aggregates, and both triple-join sides, which made the gate's wall
    * time hostage to heap geometry (driver-protocol big heaps page-faulted
    * a huge young gen: 70.9 s driver-run vs 4.1 s at 8 g, BASELINE.md
    * r19). Ids are decoded back to strings only on the FREQUENT outputs —
    * support-filtered, orders of magnitude smaller than the candidate
    * stream. The id rank is monotone in the token string, so the
    * `i1 < i2` canonicalization and the (t1, t3) third-face probe are
    * row-for-row the string form's — output identical, oracle unchanged.
    */
  private def itemsetsFrom(base: DataFrame, minSupport: Int): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val items = base.select(col("fi_id"), explode(col("toks")).as("tok"))
    val f1 = items.groupBy(col("tok")).agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSupport)
    val f1i = RankOps.globalRank(f1, Seq(col("tok").asc), "iid")
      .ckptLazy
    // Pack-safety: pair keys are iid1 << 32 | iid2, so every id must fit
    // 32 bits — 4.29 B DISTINCT FREQUENT tokens; at minSupport ≥ 2 that
    // needs > 8.6 B token occurrences before it can trip. The one-row
    // aggregate doubles as the f1i memo's materializer (the vocabulary-
    // sized encode/decode table feeds six joins below).
    val maxIid = f1i.agg(coalesce(max(col("iid")), lit(0L))).head().getLong(0)
    require(maxIid < (1L << 32),
      s"frequentItemsets: $maxIid distinct frequent tokens exceed the 32-bit " +
        "pair-packing bound — raise minSupport (or shard the corpus) so the " +
        "frequent vocabulary fits")
    val lowMask = lit((1L << 32) - 1L)
    // Encode: the candidate stream's ONLY contact with token strings.
    val e = items.join(f1i.select(col("tok"), col("iid")), Seq("tok"))
      .select(col("fi_id"), col("iid"))
    val docPairs = e.as("a").join(e.as("b"),
        col("a.fi_id") === col("b.fi_id") && col("a.iid") < col("b.iid"))
      .select(col("a.fi_id").as("fi_id"),
        shiftleft(col("a.iid"), 32).bitwiseOR(col("b.iid")).as("pk"))
      .ckptLazy
    val f2 = docPairs.groupBy(col("pk")).agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSupport)
      .ckptLazy
    val fp = docPairs.join(f2.select(col("pk")), Seq("pk"))
      .select(col("fi_id"), shiftrightunsigned(col("pk"), 32).as("i1"),
        col("pk").bitwiseAND(lowMask).as("i2"), col("pk"))
    val cand3 = fp.as("x").join(fp.as("y"),
        col("x.fi_id") === col("y.fi_id") && col("x.i2") === col("y.i1"))
      .select(col("x.fi_id").as("fi_id"), col("x.pk").as("pk12"),
        col("y.i2").as("i3"),
        shiftleft(col("x.i1"), 32).bitwiseOR(col("y.i2")).as("pk13"))
      // third Apriori face: (t1, t3) must itself be frequent
      .join(f2.select(col("pk").as("pk13")), Seq("pk13"))
    val f3 = cand3.groupBy(col("pk12"), col("i3")).agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSupport)
    // Decode: id-keyed joins against the frequent OUTPUTS only.
    val dec = f1i.select(col("iid"), col("tok"))
    def item(as: String, out: String) =
      dec.select(col("iid").as(as), col("tok").as(out))
    val nullItem = lit(null).cast("string")
    val out2 = f2
      .select(shiftrightunsigned(col("pk"), 32).as("i1"),
        col("pk").bitwiseAND(lowMask).as("i2"), col("sup"))
      .join(item("i1", "item1"), Seq("i1"))
      .join(item("i2", "item2"), Seq("i2"))
    val out3 = f3
      .select(shiftrightunsigned(col("pk12"), 32).as("i1"),
        col("pk12").bitwiseAND(lowMask).as("i2"), col("i3"), col("sup"))
      .join(item("i1", "item1"), Seq("i1"))
      .join(item("i2", "item2"), Seq("i2"))
      .join(item("i3", "item3"), Seq("i3"))
    f1.select(lit(1).as("k"), col("tok").as("item1"),
        nullItem.as("item2"), nullItem.as("item3"), col("sup").as("support"))
      .unionByName(out2.select(lit(2).as("k"), col("item1"),
        col("item2"), nullItem.as("item3"), col("sup").as("support")))
      .unionByName(out3.select(lit(3).as("k"), col("item1"),
        col("item2"), col("item3"), col("sup").as("support")))
  }

  /** Pairwise SOURCE-VOCABULARY overlap — the inter-source similarity
    * matrix ("which feeds duplicate each other's content domain") that
    * decides whether two sources deserve separate mixing budgets:
    * exact Jaccard between each pair of sources' distinct-token SETS.
    *
    * Never an all-pairs scan: intersections come from the TOKEN-keyed
    * self-join of the distinct (source, token) table — a token in k
    * sources contributes C(k,2) pair rows, bounded by source cardinality
    * squared, not corpus size — and unions close from the per-source
    * set sizes (|A∪B| = |A| + |B| − |A∩B|). All counts exact longs,
    * jaccard one IEEE division.
    *
    * Output: (src_i < src_j, n_i, n_j, n_inter, n_union, jaccard) — one
    * row per source pair that SHARES at least one token (disjoint pairs
    * carry no signal and would make the output |sources|² regardless of
    * data).
    */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val st = df.select(col(sourceCol).as("src"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
      .distinct()
    val sizes = st.groupBy(col("src")).agg(count(lit(1)).as("sz"))
    val inter = st.as("a").join(st.as("b"),
        col("a.tok") === col("b.tok") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_i"), col("b.src").as("src_j"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col("src").as("src_i"), col("sz").as("n_i"))),
        Seq("src_i"))
      .join(broadcast(sizes.select(col("src").as("src_j"), col("sz").as("n_j"))),
        Seq("src_j"))
      .select(col("src_i"), col("src_j"), col("n_i"), col("n_j"),
        col("n_inter"),
        (col("n_i") + col("n_j") - col("n_inter")).as("n_union"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_i") + col("n_j") - col("n_inter")).cast("double"))
  }

  /** Per-group CLASS-BALANCE report via Simpson's index — the
    * language/source mix check a multilingual corpus runs before
    * training (a 90%-English corpus with 20 nominal languages is the
    * failure this catches): with class counts cᵢ (n = Σcᵢ),
    *
    *   simpson = Σcᵢ² / n²   (probability two random docs share a class)
    *   enc     = n² / Σcᵢ²   (effective number of classes — inverse
    *                          Simpson: 20 balanced classes → 20, the
    *                          90/10 corpus → ~1.2)
    *
    * Both are single IEEE divisions of exact integers — no log, so
    * unlike Shannon diversity the statistic hash-gates. Σc² accumulates
    * as (18,0)×(19,0) DECIMALs. Scale: two combiner-reduced hash
    * aggregates, state per group = the class cardinality.
    *
    * Output: (group, n, n_classes, sq_sum — digit string, simpson, enc).
    * The Σc² pin is exposed as its canonical digit string, not a
    * DECIMAL(38,0) — the one output type the two engines' hashers
    * disagreed on (r15 driver drift).
    */
  def classBalance(df: DataFrame, groupCol: String, classCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"), col(classCol).as("cls"))
      .groupBy(col("g"), col("cls")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("g"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_classes"),
        sum(dec(col("c"), 18, 0) * dec(col("c"), 19, 0)).cast("decimal(38,0)").as("sq_sum"))
      .select(col("g").as(groupCol), col("n"), col("n_classes"),
        col("sq_sum").cast("string").as("sq_sum"),
        (exactDouble(col("sq_sum")) /
          exactDouble((dec(col("n"), 18, 0) * dec(col("n"), 19, 0)).cast("decimal(38,0)")))
          .as("simpson"),
        (exactDouble((dec(col("n"), 18, 0) * dec(col("n"), 19, 0)).cast("decimal(38,0)")) /
          exactDouble(col("sq_sum"))).as("enc"))
  }

  /** Per-source Gini coefficient of token-frequency CONCENTRATION — the
    * inequality profile of a source's vocabulary usage (0 = every token
    * equally frequent, →1 = a few tokens dominate). Complements
    * [[tokenDrift]]: drift says a source's distribution moved, Gini says
    * whether it collapsed into boilerplate — the early symptom of a
    * templated/spammy source.
    *
    * Exact by the rank identity: with per-token counts c ranked ascending
    * (rank i of m), Σᵢ Σⱼ |cᵢ − cⱼ| = 2·Σᵢ (2i − m − 1)·cᵢ, so
    *
    *   G = Σᵢ (2i − m − 1)·cᵢ / (m·T),   T = Σ cᵢ
    *
    * Tie order cannot matter (within a tied block the weights sum to the
    * same regardless of order — the |cᵢ−cⱼ| form is order-free), so the
    * row_number tie-break on the token is display-stable, not
    * result-bearing. The weighted sum accumulates as (19,0)×(18,0)
    * DECIMALs; G is one IEEE division of digit-string-cast exact operands.
    *
    * Scale posture: one combiner-reduced (source, token) count, then the
    * rank window runs over VOCABULARY-level aggregate rows (the
    * [[graft.operators.EvalOps.rocAuc]] shape), never data rows.
    *
    * Output: (source, m_tokens, total_tokens, gini_num — digit string,
    * gini); sources with m·T = 0 impossible (a row implies a token),
    * m = 1 gives G = 0. The pin is a digit string, not DECIMAL(38,0)
    * (the r15 driver-drift type — see [[classBalance]]).
    */
  def vocabGini(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val counts = df.select(col(sourceCol).as("src"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("src")).orderBy(col("c").asc, col("tok").asc)
    val wAll = Window.partitionBy(col("src"))
    val ranked = counts
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
    ranked.groupBy(col("src"))
      .agg(
        max(col("m")).as("m_tokens"),
        sum(col("c")).as("total_tokens"),
        sum(dec(lit(2L) * col("i") - col("m") - 1L, 19, 0) * dec(col("c"), 18, 0))
          .cast("decimal(38,0)").as("gini_num"))
      .select(col("src").as(sourceCol), col("m_tokens"), col("total_tokens"),
        col("gini_num").cast("string").as("gini_num"),
        (exactDouble(col("gini_num")) /
          exactDouble((dec(col("m_tokens"), 18, 0) * dec(col("total_tokens"), 19, 0))
            .cast("decimal(38,0)"))).as("gini"))
  }

  /** TOP-k TOKEN MOVERS between two corpus versions — [[tokenDrift]]
    * answers "did this source move" with one number; this names WHAT
    * moved: the k tokens with the largest absolute probability shift
    * |c_a/N_a − c_b/N_b| between corpus A and corpus B, ranked by the
    * exact cross-multiplied numerator |c_a·N_b − c_b·N_a| (ties to the
    * token). Tokens absent from one side rank by their full mass on the
    * other (c = 0 enters the same formula), so a token that APPEARED or
    * VANISHED outranks one that merely rebalanced — the diagnosis view a
    * drift alarm hands to a human.
    *
    * Scale posture: two combiner-reduced token counts, one token-keyed
    * FULL OUTER equi-join over VOCABULARY rows, one global top-k
    * (TakeOrdered, never a full sort). The shift numerator accumulates
    * as an (18,0)×(19,0) DECIMAL product pair and is exposed as its
    * digit string (the r15 drift-safe pin); `shift` is one IEEE
    * division of digit-string-cast operands.
    *
    * Per-token work carries LONG hashes, never token strings (r20 VERDICT
    * item 2, the q_itemsets de-GC treatment): counts, the full-outer
    * join, and the numerator all key on the compiled 60-bit
    * [[SimHash.tokenWideHashes]] value, and the ~k token STRINGS the
    * output needs are recovered afterwards by re-scanning both corpora
    * through a broadcast semi-join on the surviving hashes — a filter
    * pass that aggregates nothing, so the transient per-token strings
    * die young instead of churning a giant hash map. The boundary cut is
    * tie-complete: candidates are every token with `num ≥ the k-th
    * largest num`, so the final (num DESC, token ASC) order sees every
    * token the old string-keyed TakeOrdered could have selected —
    * identical output (hash injectivity on the vocabulary assumed, 60
    * bits; the oracle verifies it per fixture). Each count table
    * materializes once (lazy checkpoint) — without it its three
    * consumers (join, corpus total, threshold) each re-run the full scan
    * lineage (8 parquet scans per run instead of 2 count scans + 2
    * recovery filter scans).
    *
    * Output: (rnk 1..k, token, c_a, c_b, shift_num — digit string,
    * shift DOUBLE), rows ordered by rank.
    */
  def tokenShift(dfA: DataFrame, dfB: DataFrame, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def counts(df: DataFrame) = df
      .select(explode(SimHash.tokenWideHashes(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .ckptLazy
    val ca = counts(dfA)
    val cb = counts(dfB)
    val na = ca.agg(sum(col("c")).as("na"))
    val nb = cb.agg(sum(col("c")).as("nb"))
    val joined = ca.withColumnRenamed("c", "c_a")
      .join(cb.withColumnRenamed("c", "c_b"), Seq("tok"), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("tok"), col("c_a"), col("c_b"),
        abs(dec(col("c_a"), 18, 0) * dec(col("nb"), 19, 0) -
          dec(col("c_b"), 18, 0) * dec(col("na"), 19, 0))
          .cast("decimal(38,0)").as("num"),
        col("na"), col("nb"))
    // Tie-complete boundary cut on the hash-keyed table: keep every token
    // whose num reaches the k-th largest (TakeOrdered k + min — never a
    // full sort). Ties may keep > k candidates; the final ordered limit
    // below resolves them by token string exactly as before.
    val thresh = joined.orderBy(col("num").desc).limit(k)
      .agg(min(col("num")).as("graft_th"))
    val cand = joined.crossJoin(broadcast(thresh))
      .filter(col("num") >= col("graft_th"))
      .ckptLazy
    // String recovery for the surviving hashes only: explode + broadcast
    // semi-join keeps ~k rows, aggregates nothing corpus-sized.
    val candH = broadcast(cand.select(col("tok")).distinct())
    def names(df: DataFrame) = df
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .select(col("token"), TextOps.wideHash(col("token")).as("tok"))
      .join(candH, Seq("tok"), "left_semi")
    val tokenOf = names(dfA).unionByName(names(dfB)).distinct()
    // TakeOrdered cut (never a full global sort); the rank window then
    // runs over k rows only.
    val top = cand.join(tokenOf, Seq("tok"))
      .select(col("token"), col("c_a"), col("c_b"), col("num"),
        col("na"), col("nb"))
      .orderBy(col("num").desc, col("token").asc).limit(k)
    val w = Window.orderBy(col("num").desc, col("token").asc)
    top
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk").cast("int").as("rnk"), col("token"),
        col("c_a"), col("c_b"),
        col("num").cast("string").as("shift_num"),
        (exactDouble(col("num")) /
          exactDouble((dec(col("na"), 18, 0) * dec(col("nb"), 19, 0)).cast("decimal(38,0)")))
          .as("shift"))
  }

  /** Per-document N-GRAM NOVELTY against a reference corpus — the
    * "how much of this is new" score that complements decontamination's
    * binary overlap verdict: the fraction of the document's DISTINCT word
    * n-grams absent from the reference's n-gram vocabulary. Low novelty
    * flags near-template/recycled content before it trains; the same score
    * ranks a candidate crawl batch by marginal information against the
    * corpus already held.
    *
    * Exact integers (distinct-gram counts) and one IEEE division per doc.
    * Scale posture: one explode per side, the reference collapsed to its
    * DISTINCT gram vocabulary once, one gram-keyed LEFT ANTI equi-join
    * (the novel grams), two per-doc hash aggregates — never doc×doc, never
    * doc×vocabulary.
    *
    * Output: (id, n_ngrams, n_novel, novelty), one row per input doc;
    * docs with fewer than `n` tokens (or NULL text) report n_ngrams = 0
    * and NULL novelty.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val dg = docs.select(col(idCol).as("nv_id"),
      explode(array_distinct(wordNgramsAll(col(textCol), n))).as("ng"))
    val refVocab = reference
      .select(explode(wordNgramsAll(col(refTextCol), n)).as("ng"))
      .distinct()
    val tot = dg.groupBy(col("nv_id")).agg(count(lit(1)).as("n_ngrams"))
    val novel = dg.join(refVocab, Seq("ng"), "left_anti")
      .groupBy(col("nv_id")).agg(count(lit(1)).as("n_novel"))
    docs.select(col(idCol).as("nv_id"))
      .join(tot, Seq("nv_id"), "left")
      .join(novel, Seq("nv_id"), "left")
      .select(col("nv_id").as(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_ngrams") === 0L, lit(null).cast("double"))
          .otherwise(col("n_novel").cast("double") /
            col("n_ngrams").cast("double")))
  }

  /** Per-source VOCABULARY RICHNESS — the lexical-diversity profile next
    * to [[vocabGini]]'s concentration: type-token ratio (vocabulary /
    * volume) plus the hapax- and dis-legomena fractions (share of the
    * vocabulary used exactly once / twice). The trio is the standard
    * template-vs-organic screen — boilerplate crushes TTR and hapax rate
    * together, while an organic source holds hapax_rate near the
    * Zipf-predicted ~1/2 — and unlike a Zipf-slope fit it needs no `log`,
    * so it hash-gates (the one elementary function IEEE 754 does not
    * bit-specify is exactly what a slope regression would require).
    *
    * All counts exact longs over VOCABULARY-level aggregate rows; the
    * three ratios are single IEEE divisions. Scale posture: one
    * combiner-reduced (source, token) count, one closing per-source hash
    * aggregate — no window, no join, no collect.
    *
    * Output: (source, total_tokens, m_tokens, n_hapax, n_dis, ttr,
    * hapax_rate, dis_rate), one row per source with ≥1 token.
    */
  def vocabRichness(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val counts = df.select(col(sourceCol).as("src"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("src"))
      .agg(
        sum(col("c")).as("total_tokens"),
        count(lit(1)).as("m_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n_dis"))
      .select(col("src").as(sourceCol), col("total_tokens"), col("m_tokens"),
        col("n_hapax"), col("n_dis"),
        (col("m_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("m_tokens").cast("double"))
          .as("hapax_rate"),
        (col("n_dis").cast("double") / col("m_tokens").cast("double"))
          .as("dis_rate"))
  }

  /** Per-source token-distribution DRIFT: the exact total-variation
    * distance between each source's unigram distribution and the rest of
    * the corpus — the corpus-health monitor that flags a source whose
    * content shifted (a crawl gone bad, a changed upstream filter) before
    * it trains into the model. TVD is chosen over KL/JS deliberately: it
    * needs no logarithm, and `log` is the one elementary function IEEE 754
    * does NOT bit-specify across engines — so unlike a JS divergence, this
    * statistic can hold the repo's exactness contract:
    *
    *   TVD(p, q) = ½ Σᵢ |cᵢ/n − dᵢ/m| = (Σᵢ |cᵢ·m − dᵢ·n|) / (2·n·m)
    *
    * with cᵢ the source's token counts (n = Σcᵢ), dᵢ = tᵢ − cᵢ the rest's
    * (m = T − n). The numerator is an EXACT DECIMAL(38,0): operands are
    * (18,0)×(19,0) products — precision 38, never Spark's lossy ≥39
    * adjustment — exact while T < 10¹⁸ tokens. Tokens absent from the
    * source never materialize as join rows: their mass enters through the
    * closed form Σ_{i∉s} tᵢ·n = n·(T − Σ_{i∈s} tᵢ). The final tvd double
    * routes the decimal through its digit string (the [[StatOps
    * .correlation]] canonical-VARCHAR cast) and one fixed ×/÷ chain.
    *
    * Scale posture: one explode (linear), two combiner-reduced hash
    * aggregates, ONE token-keyed equi-join of (source,token) counts
    * against token totals — vocabulary-sized, not corpus-sized — and
    * per-source frames broadcast. No window, no collect.
    *
    * Per-token work carries LONG hashes, never token strings (r20 VERDICT
    * item 2 — the de-GC'd q_itemsets treatment): no column of this output
    * contains a token, so the whole pipeline keys on the compiled 60-bit
    * [[graft.functions.TokenHashes]] value and the explode/shuffle/
    * aggregate path allocates zero per-token heap strings. Counts keyed by
    * hash equal counts keyed by token as long as the hash is injective on
    * the corpus vocabulary (60 informative bits ⇒ a collision among even
    * 10⁸ distinct tokens has probability ~2·10⁻³; the oracle gate verifies
    * the fixture vocabulary collision-free at every SF). The (src, hash)
    * count table materializes ONCE (lazy checkpoint — the
    * [[tokenBudgetMix]] convention): it feeds four downstream aggregates,
    * and without it each consumer re-runs the whole scan+explode+aggregate
    * lineage — 12 parquet scans of the corpus per run where one suffices.
    *
    * Single-source corpora (m = 0) report NULL tvd. NULL texts contribute
    * no tokens; a source of only NULL texts emits no row.
    *
    * Output: (source, n_tokens, m_tokens, tvd_num — digit string, tvd),
    * one row per source. The pin is a digit string, not DECIMAL(38,0)
    * (the r15 driver-drift type — see [[classBalance]]).
    */
  def tokenDrift(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val tok = df.select(col(sourceCol).as("src"),
      explode(SimHash.tokenWideHashes(col(textCol))).as("tok"))
    val cs = tok.groupBy(col("src"), col("tok")).agg(count(lit(1)).as("c"))
      .ckptLazy
    val tot = cs.groupBy(col("tok")).agg(sum(col("c")).as("t"))
    val ns = cs.groupBy(col("src")).agg(sum(col("c")).as("n"))
    val tt = cs.agg(sum(col("c")).as("tt"))
    val pres = cs.join(tot, Seq("tok"))
      .join(broadcast(ns), Seq("src"))
      .crossJoin(broadcast(tt))
      .groupBy(col("src"))
      .agg(
        sum(abs(dec(col("c"), 18, 0) * dec(col("tt") - col("n"), 19, 0) -
          dec(col("t") - col("c"), 18, 0) * dec(col("n"), 19, 0))).as("num_present"),
        sum(col("t")).as("t_present"))
    val f = pres.join(broadcast(ns), Seq("src")).crossJoin(broadcast(tt))
      .select(col("src").as(sourceCol),
        col("n").as("n_tokens"),
        (col("tt") - col("n")).as("m_tokens"),
        (col("num_present") +
          dec(col("n"), 18, 0) * dec(col("tt") - col("t_present"), 19, 0))
          .cast("decimal(38,0)").as("tvd_num"))
    f.withColumn("tvd",
      when(col("m_tokens") === 0L, lit(null).cast("double"))
        .otherwise(col("tvd_num").cast("string").cast("double") /
          (lit(2.0) * col("n_tokens").cast("double") *
            col("m_tokens").cast("double"))))
      .withColumn("tvd_num", col("tvd_num").cast("string"))
  }
}
