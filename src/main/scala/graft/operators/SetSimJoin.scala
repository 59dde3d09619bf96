package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import graft.meta.Ckpt.Syntax
import scala.collection.immutable.ArraySeq

/** Exact set-similarity self-join via an inverted index with prefix
  * filtering (the SSJoin/PPJoin family, Chaudhuri et al. ICDE'06 / Xiao et
  * al. WWW'08) — the scale-safe replacement for a blocked all-pairs join.
  *
  * Candidate generation: tokens are globally ordered rare-first (document
  * frequency ascending, token ascending as tie-break); each set keeps only
  * its prefix of length `|A| − ⌈t·|A|⌉ + 1`. By the prefix-filtering
  * principle, any pair with Jaccard ≥ t = threshNum/threshDen shares at
  * least one prefix token under a common total order, so the equi-join of
  * prefixes on (blockCols, token) is a superset of the answer. Verification
  * then computes exact `|A∩B|` / `|A∪B|` only for candidate pairs.
  *
  * Scale posture (100 TB): every shuffle is on a high-cardinality key — the
  * prefix join on (block, token) where rare-first ordering keeps per-token
  * fan-out small (frequent stop-tokens never appear in prefixes), the dedup
  * and verify joins on doc id. Work is candidates·|set| rather than
  * Σ block² — no stage is quadratic in block size. With a bounded
  * vocabulary, [[jaccardJoin]]'s packed path removes the largest exchange
  * outright: prefixes are selected row-locally against a driver-packed df
  * table, so the full inverted index is never shuffled at all — only
  * df-aggregate partials, prefix tokens, and slim candidate pairs ever
  * cross the wire.
  *
  * The per-(block, token) document frequency behind the rare-first order is
  * computed in one of three ways, each chosen by the operator from what it
  * can observe; all three give identical df values and therefore identical
  * rows (property-tested against brute force in SetSimJoinSpec):
  *
  *  - PACKED ([[jaccardJoin]], ARRAY<BIGINT> tokens, STRING blocks, a df
  *    table of at most [[MaxPackedDfEntries]] entries): the combiner-reduced
  *    df table is collected and packed driver-side, and the codegen'd
  *    [[graft.functions.PrefixTokens]] selects each prefix row-locally.
  *  - JOIN-BACK ([[jaccardJoin]] otherwise): the same df table joined back
  *    onto the index, hot keys split off through a broadcast branch (see
  *    [[rankedIndex]]).
  *  - WINDOW ([[containmentJoin]]): a `count` over a (block, token) window
  *    of the index — one index shuffle, no second relation.
  */
object SetSimJoin {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Ceiling on driver-collected (block, token) df entries for the packed
    * prefix path — ~4 M entries is tens of MB packed, far under any sane
    * driver heap, while any real bounded vocabulary (character n-grams over
    * an alphabet, a language's word list) sits orders of magnitude below it.
    * A larger df table takes the join-back path with a warning.
    */
  private val MaxPackedDfEntries: Int = 4 << 20

  /** Per-(block, token) df from which the join-back ranks a key's index
    * rows through a broadcast branch instead of the shuffled join — see
    * [[rankedIndex]].
    */
  private val HotDfThreshold: Long = 1L << 20

  /** Default ceiling on the unpruned same-token collision mass
    * Σ_{(block, token)} C(df, 2) a [[jaccardJoin]]/[[containmentJoin]] call
    * will accept before failing LOUDLY — the candidate-volume law the exact
    * prefix join is bound by (measured on the trigram fixture: 1.4e7 →
    * 1.25e9 → 1.3e11 across 5k → 50k → 500k docs; the 1.3e11 run did not
    * finish, filling >64 GB of shuffle spill — BASELINE.md).
    * 1e10 sits an order of magnitude above the largest mass that COMPLETED
    * (sf1's 1.25e9, ~30 s) and an order below the one that did not, so the
    * default passes every bounded-block workload and rejects exactly the
    * saturated corpus-wide shapes that would otherwise run silently into
    * that spill wall. `Long.MaxValue` opts out.
    */
  val DefaultMaxCandidates: Long = 10000000000L

  private def ceilDiv(n: Column, d: Int): Column = floor((n + (d - 1)) / d).cast("int")

  /** The head both joins share: the threshold check, the optional
    * [[capTokenDf]] pre-step, the `(sj_id, sj_set, blocks…)` projection
    * `d`, and its inverted index `ex` — one `(sj_id, sj_sz, sj_tok,
    * blocks…)` row per (doc, token), set size carried along.
    */
  private def indexOf(docs: DataFrame, idCol: String, setCol: String,
      blockCols: Seq[String], threshNum: Int, threshDen: Int,
      maxDf: Option[Long]): (DataFrame, DataFrame) = {
    require(threshNum > 0 && threshNum <= threshDen, "threshold must be in (0, 1]")
    val bc = blockCols.map(col)
    val docsF = maxDf.map(m => capTokenDf(docs, setCol, blockCols, m, idCol))
      .getOrElse(docs)
    val d = docsF.select(col(idCol).as("sj_id") +: col(setCol).as("sj_set") +: bc: _*)
    val ex = d.select(
      col("sj_id") +: size(col("sj_set")).as("sj_sz") +:
        explode(col("sj_set")).as("sj_tok") +: bc: _*)
    (d, ex)
  }

  /** The (block, token) document-frequency table — one combiner-reduced
    * aggregate over the exploded index (map-side combine → ≤ |vocab| rows).
    * `ckpt = true` LAZILY checkpoints it for callers with SEVERAL
    * consumers ([[jaccardJoin]]: the packed collect, plus the Spark census
    * and join-back when the table is over the packed cap; without the
    * checkpoint the census paid a full second corpus pass —
    * q_ngram_jaccard 5.5 → 9.0 s driver minima). A checkpoint, not
    * persist(): a persisted table would make a repeated identical call read
    * the first call's counts (see [[graft.meta.Ckpt]]).
    * `ckpt = false` is for a SINGLE-consumer census (the containment
    * shape below) — materializing a table nothing re-reads is pure cost.
    */
  private def tokenDfTable(ex: DataFrame, blockCols: Seq[String],
      ckpt: Boolean = true): DataFrame = {
    val agg = ex.groupBy(blockCols.map(col) :+ col("sj_tok"): _*)
      .agg(count(lit(1)).as("sj_df"))
    if (ckpt) agg.ckptLazy else agg
  }

  /** The census-triggered loud failure behind [[DefaultMaxCandidates]]:
    * one one-row aggregate over a [[tokenDfTable]] computes
    * Σ C(df, 2) and throws with steering if the join ahead would be
    * candidate-mass-bound. Products accumulate as decimals: a 100 TB-scale
    * posting list's df² does not fit a long. A NULL sum over a NON-EMPTY
    * table is decimal(38,0) overflow — mass beyond ~1e38 is further past
    * any ceiling than a representable number, so it FAILS the guard (a
    * coalesce to 0 would silently pass it). `try_sum`, not `sum`: under
    * spark.sql.ansi.enabled=true a plain decimal sum THROWS on overflow
    * inside the action and the run would die without this guard's steering
    * message; try_sum returns NULL on overflow in both modes, so ANSI
    * sessions reach the same loud path.
    * (The per-row product itself cannot overflow: df < 10²⁰ ⇒ df·(df−1)
    * < 10⁴⁰ truncated at cast only beyond 10³⁸, i.e. only when the sum
    * would overflow anyway.)
    */
  private def guardCandidateMass(dfTab: DataFrame,
      maxCandidates: Long, op: String): Unit = {
    if (maxCandidates == Long.MaxValue) return
    val row = dfTab.agg(
      try_sum((col("sj_df").cast("decimal(20,0)") *
        (col("sj_df") - 1).cast("decimal(20,0)")).cast("decimal(38,0)")),
      count(lit(1))).head()
    if (row.getLong(1) == 0L) return // empty input: zero mass, nothing to guard
    val mass =
      if (row.isNullAt(0)) None // decimal(38,0) overflow — see scaladoc
      else Some(row.getDecimal(0).toBigInteger.shiftRight(1)) // ΣC(df,2) = Σ df·(df−1) / 2
    if (mass.forall(_.compareTo(java.math.BigInteger.valueOf(maxCandidates)) > 0))
      failCandidateMass(
        mass.map(_.toString).getOrElse("(overflowed decimal(38,0) — > 1e38)"),
        maxCandidates, op)
  }

  /** [[guardCandidateMass]]'s DRIVER-SIDE twin for the packed path: the
    * pack already collects the full df table to the driver (bounded by
    * [[MaxPackedDfEntries]]), so the SAME ΣC(df,2) mass is an exact
    * BigInteger fold over rows already in hand. The separate Spark census
    * action it replaces cost q_ngram_jaccard ~3 s of its 6 s at sf0.1
    * (plans/r22/setsim_variants.txt: 6.10 s min with the action vs 2.91 s
    * without, identical 10 778 output rows). Same threshold, same loud
    * steering message, same exact integer mass — only the engine that
    * computes it changes. Longs accumulate until near overflow and spill
    * into BigInteger, so the guard stays exact at any df.
    */
  private def guardCandidateMassDriver(dfRows: Array[Row],
      dfOrdinal: Int, maxCandidates: Long, op: String): Unit = {
    if (maxCandidates == Long.MaxValue) return
    var big = java.math.BigInteger.ZERO
    var acc = 0L
    dfRows.foreach { r =>
      val df = r.getLong(dfOrdinal)
      if (df > 3000000000L) // df·(df−1) would overflow a long
        big = big.add(java.math.BigInteger.valueOf(df)
          .multiply(java.math.BigInteger.valueOf(df - 1)))
      else {
        val p = df * (df - 1)
        if (acc > Long.MaxValue - p) {
          big = big.add(java.math.BigInteger.valueOf(acc)); acc = p
        } else acc += p
      }
    }
    val mass = big.add(java.math.BigInteger.valueOf(acc)).shiftRight(1)
    if (mass.compareTo(java.math.BigInteger.valueOf(maxCandidates)) > 0)
      failCandidateMass(mass.toString, maxCandidates, op)
  }

  private def failCandidateMass(massStr: String, maxCandidates: Long,
      op: String): Nothing =
    throw new IllegalArgumentException(
      s"$op: same-token collision mass ΣC(df,2) = " + massStr +
        s" exceeds maxCandidates = $maxCandidates — the exact prefix join " +
        "is candidate-volume-bound and this input is in its quadratic " +
        "regime (the measured wall: 1.3e11 mass filled >64 GB of shuffle " +
        "spill and did not finish). Remove ubiquitous tokens " +
        "first via maxDf = Some(k) (capTokenDf), block the corpus so " +
        "posting lists stay bounded, use the banded MinHashLsh/SimHash " +
        "families for corpus-wide near-dup, or raise maxCandidates " +
        "deliberately.")

  /** DF-CAP guard for the exact joins — the set-similarity analog of
    * [[MultimodalOps.dHashNearDup]]'s `maxBucket` hub-bucket guard: without
    * it the exact joins are quadratic in block size. Removes every token
    * whose per-`blockCols` document frequency exceeds `maxDf` from the
    * `setCol` arrays, so a downstream [[jaccardJoin]]/[[containmentJoin]]
    * runs on the FILTERED universe where no posting list exceeds `maxDf`
    * and the candidate mass is bounded by Σ C(df, 2) ≤ |vocab|·C(maxDf, 2)
    * — LINEAR in vocabulary instead of quadratic in block size once the
    * vocabulary saturates (the measured Σ C(df, 2) law: 1.4e7 → 1.25e9 →
    * 1.3e11 across 5k → 50k → 500k docs, BASELINE.md).
    *
    * SEMANTICS — stop-token removal, not an approximation knob: the
    * output is the EXACT similarity join over sets minus their
    * ubiquitous tokens (similarity carried only by boilerplate-grade
    * tokens no longer qualifies; similarity among rare tokens is
    * untouched). That redefinition is deliberate: it is deterministic,
    * engine-independent, and oracle-able — a cap applied inside candidate
    * generation instead would make the result depend on prefix-rank
    * internals no second engine can replicate. It mirrors what production
    * near-dup pipelines do with saturated grams anyway (route mega-df
    * tokens to boilerplate handling rather than pairwise-enumerate them).
    *
    * LOUD when it truncates (the [[StatOps.ksDrift]] eager-census
    * precedent): one extra one-row aggregate per call counts the capped
    * (block, token) keys and warns with the count, the worst df, and the
    * filtering strategy it chose; silent only when nothing was dropped.
    *
    * Scale posture — the census is a combiner-reduced `groupBy(block,
    * token).count` (hot tokens collapse map-side) and it also STEERS the
    * filtering plan, because the two sane plans invert at a measurable
    * boundary the census sees:
    *
    *  - SMALL per-block hot sets (every block's hot count ≤
    *    `broadcastHotMax`): hot tokens group per block and BROADCAST;
    *    the corpus filters row-locally by `array_except` with ZERO extra
    *    corpus shuffles. Per-row cost is O(|hot_block| + |set|) — the
    *    boilerplate-tail regime the guard is for (hot keys are FEW; that
    *    is what made them hot).
    *  - LARGE hot sets (a cap low enough to mark much of the vocabulary
    *    hot — saturated blockless corpora): the row-local filter's
    *    per-row O(|hot|) inverts, so the sets EXPLODE instead, hot keys
    *    drop via a shuffled anti-join on (block, token), and the kept
    *    tokens re-aggregate per `idCol` (one corpus shuffle + one
    *    doc-keyed shuffle — linear, the unbounded-vocabulary shape).
    *    Requires `idCol` (a unique row key) — the call fails loudly when
    *    the large path is needed but no id was given.
    *
    * Input contract: `setCol` arrays hold DISTINCT tokens (the same
    * upstream-dedup contract as [[jaccardJoin]]) — the census counts one
    * occurrence per doc, and the two filtering paths only coincide on
    * duplicate-free arrays (`array_except` dedups, the re-aggregation
    * does not).
    *
    * @param maxDf  largest per-block document frequency a token may have
    *               and stay; `Long.MaxValue` is the identity
    * @param idCol  unique NON-NULL row key enabling the large-hot-set
    *               path (a NULL key never survives the re-aggregation
    *               join — that row's set would silently empty);
    *               empty = broadcast path only (loud failure if exceeded)
    * @param broadcastHotMax largest per-block hot count the broadcast
    *               path accepts before switching (or failing sans idCol)
    * @return `docs` with `setCol` filtered (column order preserved;
    *         a fully-hot set becomes the EMPTY array, the row stays)
    */
  def capTokenDf(docs: DataFrame, setCol: String, blockCols: Seq[String],
      maxDf: Long, idCol: String = "",
      broadcastHotMax: Long = 8192L): DataFrame = {
    require(maxDf >= 1L, s"maxDf must be >= 1, got $maxDf")
    require(broadcastHotMax >= 0L, s"bad broadcastHotMax $broadcastHotMax")
    if (maxDf == Long.MaxValue) return docs
    val bc = blockCols.map(col)
    // Census over DISTINCT per-doc tokens (the setCol contract): one
    // combiner-reduced aggregate, never the index itself.
    val ex = docs.select(explode(col(setCol)).as("sj_tok") +: bc: _*)
    // Lazy checkpoint: the hot-key table has TWO consumers —
    // the steering census action just below and the broadcast
    // array_except (or anti-join) filter inside the returned plan — and
    // each would otherwise re-run the full corpus explode + groupBy
    // census (measured: the capped gates shingled the corpus once more
    // per consumer). The table is bounded by the HOT vocabulary (keys
    // with df > maxDf), orders of magnitude below the corpus.
    val hot = ex.groupBy(bc :+ col("sj_tok"): _*)
      .agg(count(lit(1)).as("sj_df"))
      .filter(col("sj_df") > maxDf)
      .ckptLazy
    // Blockless calls join on a constant key instead of a cross join (an
    // empty hot side must keep every doc, which a cross join would drop).
    val joinCols = if (blockCols.isEmpty) Seq("graft_cap_k") else blockCols
    val hotPerBlock0 = hot.groupBy(bc: _*)
      .agg(collect_list(col("sj_tok")).as("graft_hot_toks"),
        count(lit(1)).as("graft_hot_n"), max(col("sj_df")).as("graft_hot_df"))
    val hotPerBlock =
      if (blockCols.isEmpty) hotPerBlock0.withColumn("graft_cap_k", lit(1))
      else hotPerBlock0
    val census = hotPerBlock
      .agg(coalesce(sum(col("graft_hot_n")), lit(0L)),
        coalesce(max(col("graft_hot_df")), lit(0L)),
        coalesce(max(col("graft_hot_n")), lit(0L))).head()
    val (nHot, worstDf, maxHotPerBlock) =
      (census.getLong(0), census.getLong(1), census.getLong(2))
    if (nHot == 0L) return docs // nothing to drop; skip the filter join
    val wide = maxHotPerBlock > broadcastHotMax
    log.warn(s"capTokenDf(maxDf=$maxDf) dropped $nHot (block, token) keys " +
      s"(worst df $worstDf, widest block $maxHotPerBlock hot tokens, " +
      s"${if (wide) "explode/anti-join" else "broadcast array_except"} " +
      s"path) from '$setCol' — similarity carried only by these " +
      "ubiquitous tokens is not reported")
    if (!wide) {
      val base = if (blockCols.isEmpty) docs.withColumn("graft_cap_k", lit(1)) else docs
      base.join(broadcast(hotPerBlock), joinCols, "left")
        .withColumn(setCol,
          when(col("graft_hot_toks").isNull, col(setCol))
            .otherwise(array_except(col(setCol), col("graft_hot_toks"))))
        .drop("graft_hot_toks", "graft_hot_n", "graft_hot_df", "graft_cap_k")
        .select(ArraySeq.unsafeWrapArray(docs.columns.map(col)): _*)
    } else {
      require(idCol.nonEmpty,
        s"capTokenDf: a block carries $maxHotPerBlock hot tokens > " +
          s"broadcastHotMax=$broadcastHotMax, so the row-local filter's " +
          "per-row O(|hot|) cost inverts — pass idCol (a unique row key) " +
          "to enable the explode/anti-join path, or raise broadcastHotMax " +
          "deliberately")
      val exId = docs.select(
        col(idCol).as("graft_cap_id") +: explode(col(setCol)).as("sj_tok") +: bc: _*)
      val kept = exId
        .join(hot.select((bc :+ col("sj_tok")): _*), blockCols :+ "sj_tok", "left_anti")
        .groupBy(col("graft_cap_id"))
        .agg(collect_list(col("sj_tok")).as("graft_kept"))
      docs.join(kept, col(idCol) === col("graft_cap_id"), "left")
        .withColumn(setCol,
          // slice(set, 1, 0): the element-typed EMPTY array for rows
          // whose every token was hot (or whose set was already empty).
          coalesce(col("graft_kept"), slice(col(setCol), 1, 0)))
        .drop("graft_kept", "graft_cap_id")
        .select(ArraySeq.unsafeWrapArray(docs.columns.map(col)): _*)
    }
  }

  /** The FULL inverted index with the rare-first rank attached — the shared
    * substrate of [[jaccardJoin]]'s join-back path (which then keeps only
    * each doc's prefix) and [[containmentJoin]] (whose index side needs
    * every token's rank for the positional filter).
    *
    * `dfTab = None` counts df over a (block, token) window of the index:
    * one shuffle of the index, no second relation (an aggregate joined back
    * WITHOUT broadcast shuffles the index twice, since the aggregate's
    * exchange carries different rows than the join side's and
    * ReuseExchange cannot deduplicate them); but a stop-token-grade hot
    * (block, token) key lands in a single task with no map-side combine.
    *
    * `dfTab = Some(t)` joins the in-hand [[tokenDfTable]] back onto the
    * index. That join CANNOT be rescued by AQE's skew splitting:
    * `OptimizeSkewedJoin` only matches a join whose BOTH children are a
    * bare sort over an `ENSURE_REQUIREMENTS` shuffle stage, and here the df
    * aggregate's final merge sits between its shuffle and the join — the
    * rule never even pattern-matches this shape (it logs `skewed
    * partitions: left 0, right 0` for the other joins and is silent on this
    * one, with a 5× hot partition in the map stats). So the hot keys are
    * split DETERMINISTICALLY here instead, using the df table itself as the
    * skew census it already is: keys with `sj_df >= hotDf` join via
    * BROADCAST (their index rows never shuffle at all — the skew never
    * forms), while the cold tail takes the ordinary shuffled join, its
    * probe side pruned MAP-SIDE by a broadcast anti-join on the hot key set
    * so the cold exchange's per-key row count is `< hotDf` by construction
    * (filtering only the df side would still shuffle every hot index row
    * into one partition before dropping it — measured as the same 4.7×
    * partition the split exists to remove). Cost: the index is scanned
    * twice (once per branch — a map-side re-read, no extra shuffle volume);
    * the hot slice has at most `totalRows / hotDf` entries, so its
    * broadcast is bounded by the same census that selected it. SkewJoinSpec
    * proves the shuffle stays balanced on a deliberately hot-token corpus,
    * and that a threshold past every df reproduces the 5×+ hot partition.
    */
  private def rankedIndex(ex: DataFrame, blockCols: Seq[String],
      dfTab: Option[DataFrame], hotDf: Long = HotDfThreshold): DataFrame = {
    val keys = blockCols :+ "sj_tok"
    val withFreq = dfTab match {
      case None =>
        ex.withColumn("sj_df", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      case Some(t) =>
        val hot = t.filter(col("sj_df") >= hotDf)
        ex.join(broadcast(hot.select(keys.map(col): _*)), keys, "left_anti")
          .join(t.filter(col("sj_df") < hotDf), keys)
          .unionByName(ex.join(broadcast(hot), keys))
    }
    val w = Window.partitionBy(col("sj_id")).orderBy(col("sj_df"), col("sj_tok"))
    withFreq.withColumn("sj_rk", row_number().over(w))
  }

  /** Pairs (doc_i < doc_j) within the same `blockCols` values whose token
    * sets have Jaccard ≥ threshNum/threshDen, with exact overlap counts.
    *
    * DESIGN ENVELOPE — bounded blocks. Exact set-similarity join at a
    * fixed threshold over a bounded vocabulary is intrinsically
    * candidate-volume-bound: once the vocabulary saturates, every token's
    * df grows linearly with block size and the candidate mass
    * Σ C(df, 2) grows QUADRATICALLY (measured on the trigram fixture:
    * 1.4e7 → 1.25e9 → 1.3e11 across 5k → 50k → 500k docs — BASELINE.md;
    * prefix filtering removes a constant factor, not the quadratic). Keep
    * blocks bounded; corpus-wide near-dup at
    * 100 TB belongs to the banded [[MinHashLsh]] family, which emits only
    * probable pairs and measured ~9× cost at 100× data. When the exact
    * join must run on a saturated input anyway, pre-filter through
    * [[capTokenDf]] — the loud df-cap guard that bounds every posting
    * list and with it the candidate mass (to |vocab|·C(maxDf, 2)),
    * trading away only similarity carried by ubiquitous tokens.
    *
    * Prefix path, chosen per call: ARRAY<BIGINT> tokens, STRING (or no)
    * blocking columns and a df table of at most [[MaxPackedDfEntries]]
    * entries take the PACKED path (row-local prefixes, no index shuffle);
    * any other input takes the hot-split JOIN-BACK (see [[rankedIndex]]).
    * Both return identical rows.
    *
    * @param docs    one row per document; `setCol` is an ARRAY column of
    *                DISTINCT tokens (dedup upstream — counts are set-based)
    * @param maxDf   Some(k) routes the input through [[capTokenDf]] first
    *                (stop-token removal at per-block df > k — the
    *                candidate-mass cap as a single knob); None leaves the
    *                sets untouched
    * @param maxCandidates loud-failure ceiling on the collision mass
    *                Σ C(df, 2) — see [[DefaultMaxCandidates]];
    *                `Long.MaxValue` opts out of the census, and a set
    *                `maxDf` skips it (post-cap mass is linear in
    *                vocabulary by construction)
    * @return columns: blockCols…, doc_i, doc_j, n_common, n_union (LONG)
    */
  def jaccardJoin(
      docs: DataFrame,
      idCol: String,
      setCol: String,
      blockCols: Seq[String],
      threshNum: Int,
      threshDen: Int,
      maxDf: Option[Long] = None,
      maxCandidates: Long = DefaultMaxCandidates): DataFrame =
    jaccardJoinWith(docs, idCol, setCol, blockCols, threshNum, threshDen,
      maxDf, maxCandidates, MaxPackedDfEntries, HotDfThreshold)

  /** [[jaccardJoin]] with the packed cap and the hot-key threshold as
    * arguments, so a spec can force the join-back and the hot-key split on
    * a small corpus.
    */
  private[graft] def jaccardJoinWith(
      docs: DataFrame,
      idCol: String,
      setCol: String,
      blockCols: Seq[String],
      threshNum: Int,
      threshDen: Int,
      maxDf: Option[Long],
      maxCandidates: Long,
      maxPackedDfEntries: Int,
      hotDfThreshold: Long): DataFrame = {
    val bc = blockCols.map(col)
    val (d, ex) = indexOf(docs, idCol, setCol, blockCols, threshNum, threshDen, maxDf)

    // The default-loud candidate-mass census: a corpus-wide call on a
    // saturated vocabulary would otherwise run straight into the >64 GB
    // spill wall with no warning — it fails eagerly instead, BEFORE the
    // prefix join, with the measured law and the escape hatches in the
    // message. This makes the call EAGER (one action at DataFrame-
    // construction time — the documented cost of the loud-by-default
    // guard). Skipped when maxDf capped the input: post-cap every posting
    // list is ≤ maxDf, so ΣC(df,2) ≤ |vocab|·C(maxDf,2) — LINEAR in
    // vocabulary by construction; the census would only re-prove it
    // (measured ~2 s of redundant aggregate on the sf0.1 capped gates).
    val censusNeeded = maxDf.isEmpty && maxCandidates != Long.MaxValue
    // Every path reads the one checkpointed df table: the capped collect
    // materializes it, the packed census folds over the collected rows
    // driver-side, and the join-back's Spark census + join (for unpackable
    // input, or when the aggregate is over the cap — at its largest) read
    // the computed blocks instead of aggregating the index again; checkpoint
    // blocks are released by the ContextCleaner once the plans they feed
    // are unreferenced.
    val dfTab = tokenDfTable(ex, blockCols)
    val packable = (d.schema("sj_set").dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }) && blockCols.forall(c => d.schema(c).dataType == StringType)
    // The packed table is (block → sorted long array), so only long tokens
    // under string blocks pack. Its bounded-vocabulary contract is ENFORCED,
    // not assumed: the df table is collected through a hard cap (one row
    // past `maxPackedDfEntries` proves the overflow without materializing an
    // unbounded result on the driver), and an oversized vocabulary takes
    // the join-back with a warning instead of OOMing the driver.
    val packedDfRows: Option[Array[Row]] =
      if (!packable) None
      else {
        val capped = dfTab.limit(maxPackedDfEntries + 1).collect()
        if (capped.length <= maxPackedDfEntries) Some(capped)
        else {
          log.warn(s"jaccardJoin: df table exceeds $maxPackedDfEntries " +
            "distinct (block, token) entries, too many to pack on the " +
            "driver — ranking prefixes by the hot-split df join-back instead")
          None
        }
      }
    if (censusNeeded) packedDfRows match {
      case Some(rows) =>
        guardCandidateMassDriver(rows, blockCols.size + 1, maxCandidates, "jaccardJoin")
      case None => guardCandidateMass(dfTab, maxCandidates, "jaccardJoin")
    }

    // Prefix of length |A| − ⌈t·|A|⌉ + 1 under the (df, token) order, as
    // (sj_id, sj_tok, sj_sz, sj_rk, blocks…) rows.
    val prefix = packedDfRows match {
      case None =>
        rankedIndex(ex, blockCols, Some(dfTab), hotDfThreshold)
          .filter(col("sj_rk") <= col("sj_sz") - ceilDiv(col("sj_sz") * threshNum, threshDen) + 1)
          .select(col("sj_id") +: col("sj_tok") +: col("sj_sz") +: col("sj_rk") +: bc: _*)
      case Some(dfRows) =>
        import org.apache.spark.sql.graft.bridge
        import graft.functions.{DfPack, PrefixTokens}
        val nb = blockCols.size
        // A null block value or token can never survive the equi-join on
        // either path (null keys drop); excluded from the pack, and the
        // expression nulls out rows with null block values to match.
        val pack = DfPack.pack(dfRows.iterator
          .filter(r => (0 to nb).forall(i => !r.isNullAt(i)))
          .map { r =>
            ((0 until nb).map(r.getString), r.getLong(nb), r.getLong(nb + 1))
          })
        // The set size comes from the GENERATOR output, not a size()
        // projection: see PrefixTokensImpl.prefix on why a size(sj_set)
        // column would re-shingle the corpus inside the scan stage.
        val pt = bridge.column(PrefixTokens(
          bridge.expression(col("sj_set")) +: blockCols.map(c => bridge.expression(col(c))),
          pack, threshNum, threshDen))
        d.select(col("sj_id") +: pt.as(Seq("sj_tok", "sj_rk", "sj_sz")) +: bc: _*)
          .select(col("sj_id") +: col("sj_tok") +: col("sj_sz") +:
            col("sj_rk") +: bc: _*)
    }

    // Candidates: prefix-token collision inside a block, pruned by
    //  - the ASYMMETRIC MID-PREFIX (PPJoin, Xiao et al. WWW'08 §4): pairs
    //    are canonicalized by (size, id) so side i is the SMALLER set. Any
    //    qualifying pair shares ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉ tokens, and with
    //    |B| ≥ |A| that gives α ≥ ⌈2t/(1+t)·|A|⌉ — so the i side only needs
    //    its first |A| − ⌈2t/(1+t)·|A|⌉ + 1 tokens (the INDEX prefix),
    //    strictly shorter than the probe prefix |A| − ⌈t·|A|⌉ + 1 whenever
    //    t < 1 (at t = 3/5: 1/4·|A| vs 2/5·|A|). The j side keeps the full
    //    probe prefix (α ≥ ⌈t·|B|⌉ via the length filter |A| ≥ t·|B|). The
    //    i side is cut BEFORE the join — its exchange and the collision
    //    stream both shrink by the prefix ratio (1−2t/(1+t))/(1−t) =
    //    1/(1+t);
    //  - the length filter: J ≥ t forces |A| ≥ t·|B| (the other direction
    //    is implied by |A| ≤ |B|);
    //  - the PPJoin positional filter: a token at ranks (p_i, p_j) bounds
    //    the remaining possible overlap at 1 + min(|A|−p_i, |B|−p_j), which
    //    must reach α for some shared prefix token.
    // "Some shared token reaches α" ≡ "the best one does", so the positional
    // filter runs at ROW level, inside the join, BEFORE the dedup aggregate:
    // it prunes the collision stream while it's still flowing through the
    // joiner (at sf0.1 that's 2.4 M → ~0.3 M rows into the hash aggregate)
    // instead of materializing every collision into groupBy state first.
    // The aggregate that remains is pure pair-dedup for the verify join.
    // The packed path has NO exchange anywhere in its map pipeline — which
    // exposes a planner trap: a broadcast join BUILD side strips any user
    // repartition beneath it (collecting makes redistribution "redundant"),
    // so the build's whole scan→shingle→prefix pipeline re-runs at the
    // SOURCE file's split parallelism — measured as the entire corpus
    // re-shingled on one task over a single-split parquet fixture.
    // SHUFFLE_HASH on the build sides keeps every heavy-compute side behind
    // a real exchange (full map parallelism, AQE-splittable keys); at scale
    // these sides are far beyond broadcast thresholds anyway, so the hint
    // only pins what a 1000-executor plan would do regardless, without the
    // sort a merge join would add. The join-back path keeps planner
    // freedom: its rank window's exchange already feeds every consumer.
    val hinted: DataFrame => DataFrame =
      if (packedDfRows.isDefined) _.hint("SHUFFLE_HASH") else identity
    val alpha = ceilDiv((col("sz_i") + col("sz_j")) * threshNum, threshNum + threshDen)
    // The i side's index prefix: rank ≤ |A| − ⌈2t/(1+t)·|A|⌉ + 1. Filtered
    // from the probe-length prefix stream row-locally (rank is the true rank
    // in the full rare-first order, so a filter is exactly a shorter prefix).
    val idxPrefix = prefix.filter(
      col("sj_rk") <= col("sj_sz") - ceilDiv(col("sj_sz") * (2 * threshNum),
        threshNum + threshDen) + 1)
    val cand = idxPrefix.toDF("doc_i" +: "sj_tok" +: "sz_i" +: "rk_i" +: blockCols: _*)
      .join(hinted(prefix.toDF("doc_j" +: "sj_tok" +: "sz_j" +: "rk_j" +: blockCols: _*)),
        blockCols :+ "sj_tok")
      .filter((col("sz_i") < col("sz_j") ||
          (col("sz_i") === col("sz_j") && col("doc_i") < col("doc_j"))) &&
        col("sz_j") * threshNum <= col("sz_i") * threshDen &&
        least(col("sz_i") - col("rk_i"), col("sz_j") - col("rk_j")) + 1 >= alpha)
      .select(col("doc_i") +: col("doc_j") +: bc: _*)
      .dropDuplicates("doc_i" +: "doc_j" +: blockCols)

    // Exact verification on candidates only. Pairs arrive canonicalized by
    // (size, id); the output contract is id order, restored at the end.
    val sets = d.select(col("sj_id"), col("sj_set"))
    cand
      .join(hinted(sets.toDF("doc_i", "set_i")), "doc_i")
      .join(hinted(sets.toDF("doc_j", "set_j")), "doc_j")
      .withColumn("n_common", size(array_intersect(col("set_i"), col("set_j"))).cast("long"))
      .withColumn("n_union",
        (size(col("set_i")) + size(col("set_j"))).cast("long") - col("n_common"))
      .filter(col("n_union") > 0 && col("n_common") * threshDen >= col("n_union") * threshNum)
      .select(bc ++ Seq(
        least(col("doc_i"), col("doc_j")).as("doc_i"),
        greatest(col("doc_i"), col("doc_j")).as("doc_j"),
        col("n_common"), col("n_union")): _*)
  }


  /** Asymmetric SET-CONTAINMENT self-join: ordered pairs (small, big),
    * `doc_small ≠ doc_big`, same `blockCols` values, with
    * `|small ∩ big| / |small| ≥ threshNum/threshDen` — the sub-document
    * duplication shape Jaccard misses (a quote, a syndicated article inside
    * a scrape, boilerplate absorbed into a larger page has high containment
    * but LOW Jaccard once `|big| ≫ |small|`).
    *
    * Candidate generation is one-sided prefix filtering (the containment
    * adaptation of SSJoin, Chaudhuri et al. ICDE'06 §5): the required
    * overlap α = ⌈t·|A|⌉ depends only on the CONTAINED side A, so A probes
    * with its rare-first prefix of length |A| − α + 1 (pigeonhole: fewer
    * than α of A's tokens lie outside it, and the intersection has ≥ α, so
    * some intersection token is in the prefix) while the index side keeps
    * its FULL token set — no prefix bound exists for B because |B| is
    * unconstrained. Both sides carry their true rank under the common
    * (df, token) order, so the PPJoin positional filter
    * `1 + min(|A|−p_i, |B|−p_j) ≥ α` and the size floor `|B| ≥ α` prune
    * row-locally inside the join. Verification computes exact `|A∩B|` on
    * candidates only.
    *
    * Scale posture: the index side is the full inverted index — LINEAR in
    * corpus token volume, shuffled once on (block, token) by the df window
    * of [[rankedIndex]]; the probe side explodes only ≈ (1−t)·|A|+1 of each
    * doc's RAREST tokens, so posting-list fan-out stays small by
    * construction (a stop-word reaches a prefix only if the doc is almost
    * all stop-words). No stage is quadratic in block size. The df is
    * always the window count: the packed path emits prefixes, not the full
    * ranked sets the index side needs, and joining the census's df table
    * back instead measured 5.33 s against the window's 2.03 s on
    * q_containment at sf0.1 (plans/r22/setsim_variants.txt, per-variant
    * JVMs, identical 505 output rows).
    *
    * Both directions of a pair are evaluated independently (containment is
    * asymmetric — two equal-sized near-identical docs qualify both ways).
    *
    * @param docs one row per document; `setCol` an ARRAY of DISTINCT tokens
    * @param maxDf Some(k) routes the input through [[capTokenDf]] first;
    *              None leaves the sets untouched
    * @param maxCandidates loud-failure ceiling on the collision mass —
    *              see [[DefaultMaxCandidates]]; `Long.MaxValue` opts out,
    *              and a set `maxDf` skips the census (post-cap mass is
    *              linear in vocabulary by construction)
    * @return columns: blockCols…, doc_small, doc_big, n_common, n_small (LONG)
    */
  def containmentJoin(
      docs: DataFrame,
      idCol: String,
      setCol: String,
      blockCols: Seq[String],
      threshNum: Int,
      threshDen: Int,
      maxDf: Option[Long] = None,
      maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    val bc = blockCols.map(col)
    val (d, ex) = indexOf(docs, idCol, setCol, blockCols, threshNum, threshDen, maxDf)
    // Same default-loud mass census as jaccardJoin: Σ C(df, 2) is the
    // probe×index collision law's proxy here (a saturated posting list
    // collides its prefix probes with its full index side). EAGER when it
    // runs (one aggregate action at construction time), over a RAW
    // single-consumer aggregate: checkpointing it to serve as the rank's df
    // source is the 5.33 s join-back form above, so the census keeps its
    // own combiner-reduced aggregate (~0.5 s incl. the corpus pass).
    // Skipped when maxDf capped the input (post-cap mass is linear in
    // vocabulary by construction — see jaccardJoin).
    if (maxDf.isEmpty && maxCandidates != Long.MaxValue)
      guardCandidateMass(tokenDfTable(ex, blockCols, ckpt = false),
        maxCandidates, "containmentJoin")
    val ranked = rankedIndex(ex, blockCols, None)
      .select(col("sj_id") +: col("sj_tok") +: col("sj_sz") +: col("sj_rk") +: bc: _*)
    // Probe prefix: |A| − ⌈t·|A|⌉ + 1 rare-first tokens of the contained side.
    val probe = ranked.filter(
      col("sj_rk") <= col("sj_sz") - ceilDiv(col("sj_sz") * threshNum, threshDen) + 1)
    val alpha = ceilDiv(col("sz_i") * threshNum, threshDen)
    val cand = probe.toDF("doc_i" +: "sj_tok" +: "sz_i" +: "rk_i" +: blockCols: _*)
      .join(ranked.toDF("doc_j" +: "sj_tok" +: "sz_j" +: "rk_j" +: blockCols: _*),
        blockCols :+ "sj_tok")
      .filter(col("doc_i") =!= col("doc_j") &&
        col("sz_j") >= alpha &&
        least(col("sz_i") - col("rk_i"), col("sz_j") - col("rk_j")) + 1 >= alpha)
      .select(col("doc_i") +: col("doc_j") +: bc: _*)
      .dropDuplicates("doc_i" +: "doc_j" +: blockCols)
    val sets = d.select(col("sj_id"), col("sj_set"))
    cand
      .join(sets.toDF("doc_i", "set_i"), "doc_i")
      .join(sets.toDF("doc_j", "set_j"), "doc_j")
      .withColumn("n_small", size(col("set_i")).cast("long"))
      .withColumn("n_common",
        size(array_intersect(col("set_i"), col("set_j"))).cast("long"))
      .filter(col("n_small") > 0 &&
        col("n_common") * threshDen >= col("n_small") * threshNum)
      .select(bc ++ Seq(
        col("doc_i").as("doc_small"), col("doc_j").as("doc_big"),
        col("n_common"), col("n_small")): _*)
  }
}
