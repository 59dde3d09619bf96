package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.meta.Ckpt.Syntax
import graft.meta.IndexTables
import scala.collection.immutable.ArraySeq
import graft.Tables.{dec, exactDouble}

/** Embedding-vector operators over ARRAY<FLOAT> columns (Spark has no native
  * vector type): cosine similarity, brute-force top-k, and an IVF-style
  * bucketed approximate search as the scale path.
  *
  * Determinism contract (the DuckDB oracle hash-compares doubles at full
  * precision): every float is widened to double (exact), products/sums are
  * IEEE-754 doubles folded STRICTLY left-to-right via `aggregate` (Spark) /
  * `list_reduce` (DuckDB), and cosine is computed as the single expression
  * `dot / sqrt(normA * normB)` — identical operand order ⇒ bit-identical
  * results in both engines.
  *
  * Scale posture: [[topK]] broadcasts the (small) query set and computes
  * per-partition similarities with a salted two-stage top-k — the data side
  * never shuffles its vectors, only slim (query, candidate, cos) rows, and
  * no task ever sorts a query's full candidate set. [[IvfIndex]] assignment
  * is a zero-shuffle fold over broadcast centroids; search prunes candidates
  * to the probed clusters, so the join fans out to |probes|/|clusters| of
  * the data instead of all of it.
  */
object VectorOps {

  private def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Strict left-fold sum — NOT `array_sum`/partial aggregation, which could
    * reassociate doubles and diverge from the oracle.
    */
  private def foldSum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  /** Strict left-fold dot product, COMPILED ([[graft.functions.DotProduct]]
    * — one codegen'd loop instead of ~dim interpreted double ops per
    * evaluation; the exact similarity stages evaluate this per candidate
    * PAIR, where the interpreted fold was the measured floor of q_semdedup).
    * Bit-identical to [[dotHof]] on its whole domain (DotProductSpec), so
    * every hash-gated cosine output is unchanged.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.DotProduct(
      bridge.expression(a), bridge.expression(b)))
  }

  /** Interpreted HOF twin of [[dot]] — the executable spec the compiled
    * form must stay bit-identical to, and the shape the DuckDB oracles
    * mirror (`list_reduce` over `list_transform`).
    */
  private[graft] def dotHof(a: Column, b: Column): Column =
    foldSum(zip_with(asDouble(a), asDouble(b), (x, y) => x * y))

  /** Per-group mean pooling (class centroids / prototype vectors): the
    * embedding-side aggregate behind prototype-based quality filtering and
    * IVF seeding. Emitted LONG-form — one row per (group, dimension) —
    * because a cross-row float array mean cannot be hash-gated: summing
    * doubles is order-dependent. Here each element quantizes ONCE to
    * scale-8 integer UNITS by the fixed chain `⌊v·10⁸ + 0.5⌋` — every step
    * (float→double widening, one rounded multiply, one rounded add, floor)
    * is bit-specified by IEEE 754, so any engine computes the identical
    * integer with NO renderer or decimal cast in the path. (The previous
    * formulation routed each float through its decimal string; DuckDB's
    * float→VARCHAR rendering proved version-sensitive — round-9 red gate.)
    * The sums are then EXACT integer arithmetic, so aggregation order
    * cannot matter; the mean divides out as one fixed double chain at the
    * end.
    *
    * Output: (grp, pos, n, sv, mean_v) — `sv` the exact quantized sum in
    * 10⁻⁸ units (BIGINT; headroom 2⁶³/10⁸ ≈ 9·10¹⁰ in value terms).
    *
    * Scale posture: posexplode then one combiner-reduced hash aggregate on
    * (group, dimension) — dim× row inflation into a keyed agg, the standard
    * distributed mean-pooling shape; no window, no driver collect.
    */
  def groupCentroids(embs: DataFrame, groupCol: String, vecCol: String): DataFrame =
    embs.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("grp"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * lit(1e8) + lit(0.5)).cast("long")).as("sv"))
      .select(col("grp"), col("pos").cast("int").as("pos"), col("n"), col("sv"),
        (col("sv").cast("double") / lit(1e8) / col("n")).as("mean_v"))

  def norm2(a: Column): Column = dot(a, a)

  /** Interpreted HOF twin of [[norm2]] (see [[dotHof]]). */
  private[graft] def norm2Hof(a: Column): Column = {
    val d = asDouble(a)
    foldSum(zip_with(d, d, (x, y) => x * y))
  }

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(norm2(a) * norm2(b))

  /** Cosine from precomputed squared norms — bit-identical to [[cosine]]
    * (`sqrt(nnA * nnB)` sees the same doubles whether the norms were cached
    * or re-folded), but each vector's norm is computed ONCE per relation
    * instead of once per pair: the all-pairs stages below go from 3 folds
    * per pair to 1. This is also exactly the oracle's formulation (its `n`
    * CTE precomputes `nn`).
    */
  private[graft] def cosineWithNorms(a: Column, b: Column, nnA: Column, nnB: Column): Column =
    dot(a, b) / sqrt(nnA * nnB)

  /** Two-stage top-`k` per query over (query_id, neighbor_id, cos) rows.
    *
    * Stage 1 ranks within (query_id, salt) where the salt spreads each
    * query's candidates over `saltBuckets` bounded groups — no single task
    * ever sorts a query's full candidate set (the one-window form is a
    * per-query straggler at scale: every candidate row of a query lands in
    * one task). Stage 2 merges the ≤ saltBuckets·k survivors per query —
    * a trivially small sort. The split is lossless: any global top-k row is
    * top-k within its salt bucket. The salt is a deterministic hash of the
    * neighbor id (not `spark_partition_id`), so results never depend on
    * physical partitioning.
    */
  private def topKPerQuery(scored: DataFrame, k: Int, saltBuckets: Int,
      scoreName: String = "cos", ascending: Boolean = false): DataFrame = {
    def ord(c: Column) = if (ascending) c.asc else c.desc
    val w1 = Window.partitionBy(col("query_id"), col("salt"))
      .orderBy(ord(col(scoreName)), col("neighbor_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(ord(col(scoreName)), col("neighbor_id"))
    scored
      .withColumn("salt", pmod(xxhash64(col("neighbor_id")), lit(saltBuckets.toLong)))
      .withColumn("prank", row_number().over(w1))
      .filter(col("prank") <= k)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col(scoreName))
  }

  /** Exact top-`k` cosine neighbors of each query vector (brute force — the
    * correctness baseline an ANN variant is judged against).
    * Ties break on neighbor id; self-matches are excluded.
    *
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def topK(
      data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      saltBuckets: Int = 256): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm2(col(vecCol)).as("qnn")))
    val d = data.select(col(idCol).as("neighbor_id"), col(vecCol).as("dvec"),
      norm2(col(vecCol)).as("dnn"))
    topKPerQuery(
      d.join(q, col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(col("qvec"), col("dvec"), col("qnn"), col("dnn")).as("cos")),
      k, saltBuckets)
  }

  /** Binary-quantization (BQ) approximate search — the 1-bit-per-dimension
    * compression tier modern vector stores ship (32× smaller than FLOAT):
    * every vector's SIGN PATTERN packs into one long (dim ≤ 64), each query
    * shortlists the `shortlist` smallest-Hamming codes, and ONLY the
    * shortlist is reranked by exact cosine over the original floats.
    *
    * The code packs as TWO 32-bit halves (Horner fold `acc·2 + (v_i > 0)`
    * per half): a single 64-bit pack would need the SIGN bit, which ANSI
    * long multiplication (Spark) and `<< 63` (DuckDB) both reject as
    * overflow — 32-bit halves stay exact-integer everywhere. Hamming is
    * the summed `bit_count(xor)` of the halves. The rerank cosine is the
    * same strict-fold dot/norm formulation as [[topK]], so emitted doubles
    * are cross-engine twins.
    *
    * Scale posture: codes are computed row-locally in one O(dim) pass; the
    * Hamming stage scans data once against broadcast query CODES (8 bytes
    * per query — at 100 TB this is the stage you run on the compressed
    * index alone, no floats touched); both ranking stages are the salted
    * two-stage top-k (no single-task per-query window); the exact rerank
    * joins floats back for `shortlist` rows per query only. Recall vs the
    * exact ranking is spec'd in VectorOpsSpec, not assumed.
    *
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def bqTopK(
      data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int,
      shortlist: Int, saltBuckets: Int = 256): DataFrame = {
    require(dim >= 1 && dim <= 64, "bqTopK packs two 32-bit halves: dim must be <= 64")
    require(k >= 1 && shortlist >= k, "shortlist must be >= k")
    def half(vec: Column, from: Int, until: Int): Column =
      if (from > until) lit(0L)
      else aggregate(sequence(lit(from), lit(until)), lit(0L),
        (acc, i) => acc * 2 + when(element_at(vec, i) > lit(0f), 1L).otherwise(0L))
    def lo(vec: Column): Column = half(vec, 1, math.min(32, dim))
    def hi(vec: Column): Column = half(vec, 33, dim)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm2(col(vecCol)).as("qnn"),
      lo(col(vecCol)).as("qlo"), hi(col(vecCol)).as("qhi"))
    val d = data.select(col(idCol).as("neighbor_id"), col(vecCol).as("dvec"),
      norm2(col(vecCol)).as("dnn"),
      lo(col(vecCol)).as("dlo"), hi(col(vecCol)).as("dhi"))
    val shortlisted = topKPerQuery(
      d.select(col("neighbor_id"), col("dlo"), col("dhi"))
        .join(broadcast(q.select(col("query_id"), col("qlo"), col("qhi"))),
          col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (bit_count(col("qlo").bitwiseXOR(col("dlo"))) +
            bit_count(col("qhi").bitwiseXOR(col("dhi")))).cast("double").as("ham")),
      shortlist, saltBuckets, scoreName = "ham", ascending = true)
    val reranked = shortlisted.select(col("query_id"), col("neighbor_id"))
      .join(d.select(col("neighbor_id"), col("dvec"), col("dnn")), "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("qvec"), col("qnn"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("qvec"), col("dvec"), col("qnn"), col("dnn")).as("cos"))
    topKPerQuery(reranked, k, saltBuckets)
  }

  /** Matryoshka (MRL) prefix-dimension search: shortlist by exact cosine
    * over only the FIRST `prefixDim` dimensions — MRL-trained embeddings
    * concentrate signal in the prefix, so a dim/4 slice is a ~4× cheaper
    * scoring pass — then rerank the shortlist by full-dimension cosine.
    * The adaptive-retrieval pattern ("funnel retrieval") of the MRL paper
    * (Kusupati et al., NeurIPS'22). Both stages are the same strict-fold
    * cosine as [[topK]] (prefix norms computed over the slice), so every
    * emitted double is a cross-engine twin; both rankings ride the salted
    * two-stage top-k. Recall at a given (prefixDim, shortlist) is a
    * property of the EMBEDDINGS (MRL training), not of this plan — the
    * spec pins the lossless full-shortlist end and measures the fixture's
    * recall rather than assuming it.
    *
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def mrlTopK(
      data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, prefixDim: Int, k: Int,
      shortlist: Int, saltBuckets: Int = 256): DataFrame = {
    require(prefixDim >= 1, "prefixDim must be positive")
    require(k >= 1 && shortlist >= k, "shortlist must be >= k")
    def pre(vec: Column): Column = slice(vec, 1, prefixDim)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm2(col(vecCol)).as("qnn"),
      pre(col(vecCol)).as("qpre"), norm2(pre(col(vecCol))).as("qpnn"))
    val d = data.select(col(idCol).as("neighbor_id"), col(vecCol).as("dvec"),
      norm2(col(vecCol)).as("dnn"),
      pre(col(vecCol)).as("dpre"), norm2(pre(col(vecCol))).as("dpnn"))
    val shortlisted = topKPerQuery(
      d.select(col("neighbor_id"), col("dpre"), col("dpnn"))
        .join(broadcast(q.select(col("query_id"), col("qpre"), col("qpnn"))),
          col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(col("qpre"), col("dpre"), col("qpnn"), col("dpnn")).as("pcos")),
      shortlist, saltBuckets, scoreName = "pcos")
    val reranked = shortlisted.select(col("query_id"), col("neighbor_id"))
      .join(d.select(col("neighbor_id"), col("dvec"), col("dnn")), "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("qvec"), col("qnn"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("qvec"), col("dvec"), col("qnn"), col("dnn")).as("cos"))
    topKPerQuery(reranked, k, saltBuckets)
  }

  /** Exact top-`k` EUCLIDEAN neighbors of each query vector — the metric
    * twin of [[topK]] (broadcast queries, salted two-stage ranking), ranked
    * by squared distance ascending. `dist2 = |q|² + |d|² − 2·q·d` reuses the
    * once-per-relation norms and the same strict-fold dot product, so the
    * value (and every tie) is bit-identical to an oracle computing the same
    * expression — and it is ~3× cheaper than folding `(q_i − d_i)²` per
    * pair, which would also diverge from the norm-based formulation in the
    * low bits.
    *
    * Output: (query_id, rank, neighbor_id, dist2).
    */
  def topKL2(
      data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      saltBuckets: Int = 256): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm2(col(vecCol)).as("qnn")))
    val d = data.select(col(idCol).as("neighbor_id"), col(vecCol).as("dvec"),
      norm2(col(vecCol)).as("dnn"))
    topKPerQuery(
      d.join(q, col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (col("qnn") + col("dnn") - lit(2.0) * dot(col("qvec"), col("dvec")))
            .as("dist2")),
      k, saltBuckets, scoreName = "dist2", ascending = true)
  }

  /** Symmetric int8 scalar quantization (SQ8) of an embedding: per-vector
    * scale `127 / max|x_i|`, code `q_i = floor(x_i·scale + 0.5) ∈
    * [−127, 127]`. The standard ANN compression lever — 4× less memory and
    * bandwidth than FLOAT, and candidate scoring becomes exact integer
    * dot products. Returns `(codes ARRAY<BIGINT>, scale DOUBLE)`; the
    * all-zero vector quantizes to scale 0 and all-zero codes.
    *
    * Determinism: multiply, divide and `floor` are all exact-rounded /
    * exactly-specified IEEE ops, so codes and scale are bit-identical
    * cross-engine — no transcendentals anywhere (contrast ln in BM25,
    * which had to be designed out).
    */
  def sq8Scale(vec: Column): Column = {
    val maxAbs = array_max(transform(asDouble(vec), x => abs(x)))
    when(maxAbs === 0.0, lit(0.0)).otherwise(lit(127.0) / maxAbs)
  }

  /** `scale` is let-bound through a singleton-array `transform` so the
    * lambda multiplies by a VARIABLE — inlining the scale expression (an
    * array_max fold) into the per-element lambda would re-evaluate it per
    * element: O(dim²) per row, the same HOF trap as
    * [[CorpusOps.wordNgramsAll]]'s token binding (measured here at ~1.9×
    * on q_sq8_topk).
    */
  def sq8Codes(vec: Column, scale: Column): Column =
    element_at(
      transform(array(scale), s =>
        transform(asDouble(vec), x => floor(x * s + lit(0.5)).cast("long"))),
      1)

  /** Approximate maximum-inner-product top-`k` over SQ8-quantized vectors:
    * candidates are scored by the EXACT integer dot of the codes (cheap,
    * order-free — integer addition is associative, so no strict-fold
    * ceremony needed), then dequantized once per pair,
    * `ip8 = dot / scale_q / scale_d`, for a score in the original space.
    * Same scale posture as [[topK]]: broadcast query side, data vectors
    * never shuffled, salted two-stage ranking. Against [[topK]]'s exact
    * ranking this is the recall/4×-compression trade — spec'd, not assumed.
    *
    * Output: (query_id, rank, neighbor_id, ip8).
    */
  def sq8TopK(
      data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      saltBuckets: Int = 256): DataFrame = {
    def quantized(df: DataFrame, id: String, q: String, s: String): DataFrame = {
      val sc = sq8Scale(col(vecCol))
      df.select(col(idCol).as(id), sc.as(s), sq8Codes(col(vecCol), sc).as(q))
    }
    val q = broadcast(quantized(queries, "query_id", "qq", "qscale"))
    val d = quantized(data, "neighbor_id", "dq", "dscale")
    val intDot = aggregate(zip_with(col("qq"), col("dq"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val ip8 = when(col("qscale") === 0.0 || col("dscale") === 0.0, lit(0.0))
      .otherwise(intDot.cast("double") / col("qscale") / col("dscale"))
    topKPerQuery(
      d.join(q, col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), ip8.as("ip8")),
      k, saltBuckets, scoreName = "ip8")
  }

  /** Reciprocal-rank fusion (Cormack & Clarke, SIGIR'09) — the hybrid-
    * retrieval merge: each ranking contributes `1 / (rrfK + rank)` for the
    * candidates it returned, scores sum across rankings, and the fused list
    * is re-ranked per query. Rankings that disagree on modality (cosine vs
    * L2 vs BM25-style) fuse without score calibration — rank is the only
    * input.
    *
    * Determinism: the per-candidate terms are sorted before a strict left
    * fold, so the double sum is independent of shuffle order for ANY number
    * of rankings (bare SUM is only safe for ≤ 2 doubles); the oracle twin
    * is the same `list_sort` + fold. Per-query candidate volume is bounded
    * by Σ list sizes, so the final rank window is small by construction —
    * no salting needed.
    *
    * @param rankings (query_id, rank, neighbor_id) relations, e.g. [[topK]]
    *                 / [[topKL2]] outputs (extra columns are ignored)
    * @return (query_id, rrf_rank, neighbor_id, rrf_score, n_lists)
    */
  def rrfFuse(rankings: Seq[DataFrame], topN: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "nothing to fuse")
    require(topN >= 1 && rrfK >= 0)
    val terms = rankings
      .map(_.select(col("query_id"), col("neighbor_id"),
        (lit(1.0) / (lit(rrfK).cast("double") + col("rank").cast("double"))).as("term")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    terms
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(
        aggregate(sort_array(collect_list(col("term"))), lit(0.0), (a, x) => a + x)
          .as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .withColumn("rrf_rank", row_number().over(w))
      .filter(col("rrf_rank") <= topN)
      .select(col("query_id"), col("rrf_rank").cast("int").as("rrf_rank"),
        col("neighbor_id"), col("rrf_score"), col("n_lists"))
  }

  /** j-th coefficient of the k-th pseudo-random hyperplane for [[srpSignature]]
    * — delegates to the packed matrix's single source of truth
    * ([[graft.functions.SrpSignatureImpl.weight]]); kept as the public name
    * the oracle SQL documentation cites. Values in [-501001, 501001].
    */
  def srpWeight(k: Int, j: Int): Long = graft.functions.SrpSignatureImpl.weight(k, j)

  /** Sign-random-projection (SRP) signature of a vector: bit k is set iff
    * the dot product with hyperplane k is positive (charikar'02 cosine LSH).
    * Dots are strict left folds of doubles — bit-identical across engines,
    * so the SIGN is too. Compiled ([[graft.functions.SrpSignature]]): the
    * previous per-bit `aggregate(zip_with(…))` column stack paid bits×dim
    * interpreted double ops per row and kept the signature stage out of
    * WholeStageCodegen; the expression runs one JVM loop nest over the same
    * IEEE op sequence (equivalence proven in SrpSignatureSpec, which also
    * pins the one divergence: degenerate vectors null out instead of
    * collapsing into the signature-0 LSH bucket).
    */
  def srpSignature(vec: Column, bits: Int, dim: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.SrpSignature(bridge.expression(vec), bits, dim))
  }

  /** Embedding near-duplicate pairs via banded SRP-LSH with exact cosine
    * attached: candidates come from an equi-join on (band, band key); with
    * `maxHamming <= bands − 1` any qualifying pair shares an untouched band
    * (pigeonhole), so banded recall is exactly 1 and the result equals a
    * brute-force all-pairs scan — the oracle's formulation. Vectors ride
    * through the band explode so verification needs no join back.
    *
    * Output: (vec_i < vec_j, hamming, cos) for pairs within `maxHamming`.
    */
  def srpNearDupPairs(
      data: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      bits: Int = 32,
      bandBits: Int = 8,
      maxHamming: Int = 3): DataFrame = {
    require(bits % bandBits == 0, "bits must be a multiple of bandBits")
    val bands = bits / bandBits
    require(maxHamming <= bands - 1,
      s"recall-1 guarantee needs maxHamming <= bands-1 = ${bands - 1}")
    val sigs = data.select(col(idCol).as("id_"), col(vecCol).as("v_"),
      norm2(col(vecCol)).as("nn_"),
      srpSignature(col(vecCol), bits, dim).as("sig"))
      // Zero-norm vectors have no direction: their cosine is 0/0 (an ANSI
      // divide-by-zero), and they'd all collapse into the signature-0
      // bucket and pair quadratically — excluded BEFORE banding, the same
      // posture as SimHash's degenerate-doc exclusion. (Null/null-element
      // vectors already drop via their null signature's band keys.)
      .filter(col("nn_") > 0)
    val banded = sigs.select(col("id_"), col("sig"), col("v_"), col("nn_"),
      posexplode(array((0 until bands).map(b => SimHash.bandKey(col("sig"), b, bandBits)): _*))
        .as(Seq("band", "bkey")))
    banded.toDF("vec_i", "sig_i", "v_i", "nn_i", "band", "bkey")
      .join(banded.toDF("vec_j", "sig_j", "v_j", "nn_j", "band", "bkey"), Seq("band", "bkey"))
      .filter(col("vec_i") < col("vec_j"))
      .withColumn("hamming", bit_count(col("sig_i").bitwiseXOR(col("sig_j"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("vec_i"), col("vec_j"), col("hamming"),
        cosineWithNorms(col("v_i"), col("v_j"), col("nn_i"), col("nn_j")).as("cos"))
      .distinct() // a pair colliding in k bands appears k times
  }

  /** SemDeDup (Abbas et al., 2023 — semantic dedup for web-scale training
    * data): assign every embedding to its nearest centroid, then run EXACT
    * pairwise cosine *within each cluster only* and drop all but one member
    * of every high-similarity pair. The clustering bounds the quadratic
    * stage — within a cluster recall is exactly 1 (no LSH false-negative
    * class like [[srpNearDupPairs]]'s banding), across clusters it is 0 by
    * design; centroid count trades the two off.
    *
    * Candidate pairs: one self-join keyed on `cluster_id` (both sides are
    * the same exchange — ReuseExchange computes the assignment once), with
    * each vector's squared norm computed once per relation. The assignment
    * itself is the compiled zero-shuffle [[graft.functions.NearestCentroid]]
    * fold. A pathologically hot cluster degrades quadratically — that is the
    * algorithm's contract; raise the centroid count (or re-run k-means) to
    * re-bound it.
    *
    * The keep rule is the deterministic pairwise form: a row is dropped iff
    * some SMALLER-id member of its cluster sits within `minCos`. This is
    * not transitive-closure canonicalization — chains collapse through
    * [[GraphOps.connectedComponents]] when cluster-level canonical sets are
    * needed; SemDeDup's published procedure is likewise pairwise-local.
    *
    * `minCos` compares against the strict-left-fold cosine, whose bits are
    * engine-identical (the hash-gated `cos` outputs of the near-dup family
    * prove it), so a plain literal comparison is deterministic cross-engine.
    *
    * Output of [[semDedupPairs]]: (id_i < id_j, cluster_id, cos) per
    * qualifying pair. Output of [[semDedup]]: (id, cluster_id, kept) for
    * EVERY input row — zero-norm vectors keep a null cluster_id and are
    * always kept (cosine against them is undefined).
    */
  def semDedupPairs(
      data: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double): DataFrame =
    pairsOf(assignWithVec(data, centroids, idCol, vecCol), minCos)

  private def pairsOf(assigned: DataFrame, minCos: Double): DataFrame = {
    val a = assigned.filter(col("cluster_id").isNotNull)
    a.select(col("id").as("id_i"), col("vec").as("v_i"), col("vnn").as("nn_i"),
        col("cluster_id"))
      .join(a.select(col("id").as("id_j"), col("vec").as("v_j"),
        col("vnn").as("nn_j"), col("cluster_id")), Seq("cluster_id"))
      .filter(col("id_i") < col("id_j"))
      .withColumn("cos", cosineWithNorms(col("v_i"), col("v_j"), col("nn_i"), col("nn_j")))
      .filter(col("cos") >= lit(minCos))
      .select(col("id_i"), col("id_j"), col("cluster_id"), col("cos"))
  }

  /** The SemDeDup keep decision — see [[semDedupPairs]]. */
  def semDedup(
      data: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double): DataFrame = {
    // One assignment plan feeds both stages: the pair join's two sides share
    // its cluster_id exchange (ReuseExchange), the keep join re-keys on id.
    val assigned = assignWithVec(data, centroids, idCol, vecCol)
    val dropped = pairsOf(assigned, minCos)
      .select(col("id_j").as("id")).distinct()
    assigned.select(col("id"), col("cluster_id"))
      .join(dropped.withColumn("drop_", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster_id"), col("drop_").isNull.as("kept"))
  }

  /** IVF-style approximate search: vectors are assigned to their
    * nearest-centroid cluster once; a query probes only its `nProbe`
    * nearest clusters and ranks candidates within them.
    *
    * Centroid choice is caller-provided and deterministic (seed rows, or a
    * k-means run persisted beforehand) — the search itself is then exactly
    * reproducible, which is what the oracle verifies.
    */
  case class IvfIndex(assignments: DataFrame /* (id, cluster_id) */, centroids: DataFrame)

  /** Nearest-centroid assignment as a compiled map-side fold: ALL centroids
    * are collected once driver-side (they are broadcast-small by contract —
    * the previous array-of-structs form shipped the same bytes through a
    * broadcast, which stages on the driver anyway) and packed into primitive
    * arrays ([[graft.functions.CentroidPack]], sorted by cluster id); each
    * data row then runs ONE codegen'd loop
    * ([[graft.functions.NearestCentroid]]) keeping the best (cosine desc,
    * cluster id asc — replace only on STRICTLY greater, so the first/minimum
    * id wins ties, matching a `ORDER BY cos DESC, cid` rank-1 window). Zero
    * shuffle, no |data|×|centroids| intermediate, no per-key sort — and,
    * unlike the interpreted `aggregate`/`zip_with` fold it replaces, the
    * assignment stays inside WholeStageCodegen instead of paying
    * |centroids|·dim interpreted double ops per row.
    * Output: (id, vec, vnn, cluster_id); zero-norm vectors get a null
    * cluster_id and zero-norm centroids are skipped — a strict improvement
    * over the interpreted fold, which under the sessions' default ANSI mode
    * would raise DIVIDE_BY_ZERO on any zero-norm input. Equivalence on the
    * fold's whole non-throwing domain (and the zero-norm divergence) is
    * proven in NearestCentroidSpec.
    */
  private[graft] def assignWithVec(data: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    import graft.functions.{CentroidPack, NearestCentroid}
    // A centroid with a null vector or a null element could never win in the
    // fold (every cosine against it is null), so it is excluded at pack time.
    val rows = centroids
      .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("cvec"))
      .collect() // |centroids|·dim doubles — the same volume broadcast ships
    val clean = rows.iterator.filterNot(_.isNullAt(1)).flatMap { r =>
      val s = r.getSeq[Any](1)
      if (s.contains(null)) None
      else Some(r.getLong(0) -> s.iterator.map(_.asInstanceOf[Double]).toArray)
    }.toSeq
    val pack = CentroidPack.pack(clean)
    data.select(col(idCol).as("id"), col(vecCol).as("vec"), norm2(col(vecCol)).as("vnn"))
      .withColumn("cluster_id", bridge.column(NearestCentroid(
        bridge.expression(col("vec")), bridge.expression(col("vnn")), pack)))
  }

  /** Nearest-centroid assignment (rank-1 by cosine, ties on cluster id). */
  def ivfAssign(data: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): IvfIndex = {
    val asg = assignWithVec(data, centroids, idCol, vecCol)
      .filter(col("cluster_id").isNotNull)
      .select(col("id"), col("cluster_id"))
    IvfIndex(asg, centroids.select(col(idCol).as("cluster_id"), col(vecCol).as("cvec")))
  }

  /** One Lloyd iteration: assign every vector to its nearest centroid (by
    * cosine, as [[ivfAssign]] does), then recompute each centroid as the
    * per-dimension arithmetic mean of its members. Fully distributed: the
    * mean is a posexplode → (cluster, dim) hash aggregate (combiner-reduced,
    * shuffle carries one partial per (cluster, dim, partition)), re-packed
    * into an array ordered by dimension. Clusters that lose all members keep
    * their previous centroid (standard empty-cluster handling).
    *
    * Output: (cluster_id, cvec ARRAY<DOUBLE>).
    */
  def kmeansStep(data: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    // Assignment carries the vector through (map-side fold, no shuffle), so
    // the mean needs no join back to data — the only shuffles left are the
    // two hash aggregates.
    val means = assignWithVec(data, centroids, idCol, vecCol)
      .filter(col("cluster_id").isNotNull)
      .select(col("cluster_id"), posexplode(asDouble(col("vec"))).as(Seq("d", "x")))
      .groupBy(col("cluster_id"), col("d"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cluster_id"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        s => s.getField("m")).as("cvec"))
    centroids.select(col(idCol).cast("long").as("cluster_id"), asDouble(col(vecCol)).as("prev"))
      .join(means, Seq("cluster_id"), "left_outer")
      .select(col("cluster_id"), coalesce(col("cvec"), col("prev")).as("cvec"))
  }

  /** `iters` Lloyd iterations from the caller's deterministic seed
    * centroids — the honest replacement for treating seed rows as final
    * centroids when building an [[IvfIndex]] at scale.
    */
  def kmeans(data: DataFrame, seedCentroids: DataFrame,
      idCol: String, vecCol: String, iters: Int): DataFrame = {
    var c = seedCentroids.select(col(idCol).as("cluster_id"), col(vecCol).as("cvec"))
    (0 until iters).foreach { _ =>
      // An eager checkpoint truncates lineage between Lloyd iterations:
      // each step embeds the previous centroids plan twice (broadcast fold +
      // empty-cluster coalesce), so without materialization the logical plan
      // doubles per iteration and analysis/recompute cost goes exponential.
      c = kmeansStep(data, c.select(col("cluster_id").as(idCol), col("cvec").as(vecCol)),
        idCol, vecCol).select(col("cluster_id"), col("cvec")).ckptEager
    }
    c
  }

  /** Shared probe-and-rank stage: pick each query's `nProbe` nearest
    * clusters against broadcast centroids, join the (already
    * cluster-labelled) member rows to the broadcast probe list, and rank
    * with the salted two-stage top-k. The members side is never shuffled by
    * the joins — both build sides are broadcast — so a bucketed on-disk
    * member layout flows scan→join→join with zero Exchange.
    */
  private def probeRank(
      q: DataFrame /* (query_id, qvec, qnn) */,
      centroids: DataFrame /* (cluster_id, cvec) */,
      members: DataFrame /* (neighbor_id, dvec, dnn, cluster_id) */,
      k: Int, nProbe: Int, saltBuckets: Int): DataFrame = {
    val wp = Window.partitionBy(col("query_id")).orderBy(col("pcos").desc, col("cluster_id"))
    val probes = broadcast(q).crossJoin(broadcast(
        centroids.withColumn("cnn", norm2(col("cvec")))))
      .select(col("query_id"), col("cluster_id"),
        cosineWithNorms(col("qvec"), col("cvec"), col("qnn"), col("cnn")).as("pcos"))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("cluster_id"))

    // Probed-cluster members of a hot query can still be a large candidate
    // set (|data|·nProbe/|clusters|) — rank via the same salted two-stage
    // top-k as the brute-force path.
    topKPerQuery(
      members
        .join(broadcast(probes), Seq("cluster_id"))
        .join(broadcast(q), Seq("query_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(col("qvec"), col("dvec"), col("qnn"), col("dnn")).as("cos")),
      k, saltBuckets)
  }

  /** Probe-and-rank: top-`k` neighbors of each query among the members of
    * its `nProbe` nearest clusters. Output (query_id, rank, neighbor_id, cos).
    */
  def ivfSearch(
      index: IvfIndex, data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      saltBuckets: Int = 256): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm2(col(vecCol)).as("qnn"))
    val members = data.select(col(idCol).as("neighbor_id"), col(vecCol).as("dvec"),
        norm2(col(vecCol)).as("dnn"))
      .join(index.assignments.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
    probeRank(q, index.centroids, members, k, nProbe, saltBuckets)
  }

  /** A persisted IVF index loaded back from the catalog: `members` is the
    * inverted-list table (neighbor id, vector, cached squared norm, cluster
    * id) bucketed by `cluster_id`; `centroids` the (cluster_id, cvec) table.
    * Carrying the vectors IN the index (the FAISS inverted-list layout) is
    * what makes the reuse story real: a probe session needs no join back to
    * the raw data and no re-assignment — build once, probe many times.
    */
  final case class LoadedIvfIndex(members: DataFrame, centroids: DataFrame)

  /** Build and persist an IVF index: assignment runs once (the compiled
    * zero-shuffle [[graft.functions.NearestCentroid]] fold), and the member
    * rows land bucketed by `cluster_id` via [[IndexTables.overwrite]] —
    * so every later [[ivfSearchLoaded]] reads each probed cluster's members
    * co-located, with no Exchange on the member side (plan-proven in
    * VectorOpsSpec). The cached `vnn` is the same strict left-fold double
    * [[norm2]] produces at probe time, so persisting it changes no result
    * bit. Tables written: `<name>_members`, `<name>_centroids`.
    */
  def saveIvfIndex(data: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, name: String, buckets: Int = 32): Unit = {
    val members = assignWithVec(data, centroids, idCol, vecCol)
      .filter(col("cluster_id").isNotNull)
      .select(col("id").as("neighbor_id"), col("vec").as("dvec"),
        col("vnn").as("dnn"), col("cluster_id"))
    IndexTables.overwrite(members, s"${name}_members", Seq("cluster_id"), buckets)
    IndexTables.overwrite(
      centroids.select(col(idCol).as("cluster_id"), col(vecCol).as("cvec")),
      s"${name}_centroids")
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String): LoadedIvfIndex =
    LoadedIvfIndex(spark.table(s"${name}_members"), spark.table(s"${name}_centroids"))

  /** Incremental IVF maintenance — the daily-ingest path: assign NEW
    * vectors against the index's OWN persisted centroids (no recluster, no
    * touch of existing members) and append them to the bucketed
    * inverted-list table under the SAME bucket spec — resolved from the
    * table's catalog metadata, never restated by the caller
    * ([[IndexTables.append]]) — so the probe-side co-location survives the
    * append.
    * The index state afterwards is IDENTICAL to a full [[saveIvfIndex]]
    * over (old ∪ new) with those centroids — the equality the
    * `q_ivf_append` gate pins against the same oracle as `q_ann_ivf`.
    *
    * Scale posture: cost is O(|new|) assignment (the compiled zero-shuffle
    * fold) plus one bucketed write of the new rows; a growing corpus never
    * rebuilds or rewrites its index. Standard caveat (FAISS shares it):
    * centroids drift as the corpus grows — recluster when probe recall
    * degrades, which is a full [[saveIvfIndex]].
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      newData: DataFrame, idCol: String, vecCol: String,
      name: String): Unit = {
    val centroids = spark.table(s"${name}_centroids")
      .select(col("cluster_id").as(idCol), col("cvec").as(vecCol))
    val members = assignWithVec(newData, centroids, idCol, vecCol)
      .filter(col("cluster_id").isNotNull)
      .select(col("id").as("neighbor_id"), col("vec").as("dvec"),
        col("vnn").as("dnn"), col("cluster_id"))
    IndexTables.append(members, s"${name}_members")
  }

  /** [[ivfSearch]] over a [[loadIvfIndex]]-loaded index — same probe-and-rank
    * stage, but members come straight off the bucketed inverted-list table:
    * no join back to the raw vectors, no re-assignment, no shuffle of the
    * member side. Results are identical to the in-session search over the
    * same data/centroids (round-trip-proven in VectorOpsSpec).
    */
  def ivfSearchLoaded(
      index: LoadedIvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      saltBuckets: Int = 256): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm2(col(vecCol)).as("qnn"))
    probeRank(q, index.centroids, index.members, k, nProbe, saltBuckets)
  }

  /** A persisted IVF-PQ index loaded back from the catalog: `codes` is the
    * (id, cluster_id, sub, code) table bucketed by `cluster_id`,
    * `centroids` the coarse (cluster_id, cvec) table, `codebooks` the
    * (sub, cid, cvec) sub-quantizer table. THIS is the layout that makes
    * PQ a 100 TB index: a member costs 1 + m LONGs on disk — the raw
    * vectors are never stored, never read, never shuffled at probe time.
    */
  final case class LoadedIvfPqIndex(codes: DataFrame, centroids: DataFrame,
      codebooks: DataFrame)

  /** Build and persist an IVF-PQ index: [[ivfPqEncode]] runs once (compiled
    * zero-shuffle assignment + broadcast codebook argmin) and the code rows
    * land bucketed by `cluster_id` via [[IndexTables.overwrite]], so a
    * later [[ivfPqSearchLoaded]] reads each probed cluster's codes
    * co-located. Centroids and codebooks persist beside them — the probe
    * session needs NOTHING but the three tables (the [[saveIvfIndex]]
    * reuse story at 1 + m longs per member instead of the full vector).
    * Tables written: `<name>_codes`, `<name>_centroids`, `<name>_codebooks`.
    */
  def saveIvfPqIndex(data: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, codebooks: DataFrame,
      m: Int, dim: Int, name: String, buckets: Int = 32): Unit = {
    val enc = ivfPqEncode(data, idCol, vecCol, centroids, codebooks, m, dim)
    IndexTables.overwrite(enc, s"${name}_codes", Seq("cluster_id"), buckets)
    IndexTables.overwrite(
      centroids.select(col(idCol).as("cluster_id"), col(vecCol).as("cvec")),
      s"${name}_centroids")
    IndexTables.overwrite(codebooks.select(col("sub"), col("cid"), col("cvec")),
      s"${name}_codebooks")
  }

  /** Incremental IVF-PQ maintenance — [[appendToIvfIndex]] for the code
    * tier: NEW vectors encode against the index's OWN persisted centroids
    * and codebooks (m and the subspace width are read off the codebook
    * table — no recluster, no retrain, no touch of existing codes) and
    * append under the same bucket spec. The state afterwards is IDENTICAL
    * to a full [[saveIvfPqIndex]] over (old ∪ new) — the equality the
    * q_ivfpq_index gate pins against the q_ivfpq_topk oracle. Cost is
    * O(|new|) encode + one bucketed write; the standard centroid/codebook
    * drift caveat of [[appendToIvfIndex]] applies doubly (retrain via
    * [[trainPqCodebooksInt]] + rebuild when recall degrades).
    */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      newData: DataFrame, idCol: String, vecCol: String,
      name: String): Unit = {
    val centroids = spark.table(s"${name}_centroids")
      .select(col("cluster_id").as(idCol), col("cvec").as(vecCol))
    val codebooks = spark.table(s"${name}_codebooks")
    // Bucket spec from the catalog, m and dim from the codebooks: the
    // append restates NOTHING the persisted index already knows.
    val (m, dim) = codebookShape(codebooks, name)
    IndexTables.append(
      ivfPqEncode(newData, idCol, vecCol, centroids, codebooks, m, dim),
      s"${name}_codes")
  }

  /** (m, dim) of a persisted codebook table, whose subs are 0..m−1 and
    * codewords all dim/m wide: one aggregate over a driver-sized table.
    */
  private def codebookShape(codebooks: DataFrame, name: String): (Int, Int) = {
    val shape = codebooks
      .agg(max(col("sub")).cast("int"), min(size(col("cvec"))), max(size(col("cvec"))))
      .head()
    val (m, sdMin, sdMax) = (shape.getInt(0) + 1, shape.getInt(1), shape.getInt(2))
    require(sdMin == sdMax, s"ragged codeword widths in ${name}_codebooks")
    (m, m * sdMin)
  }

  /** The `graft.refresh_epoch` property [[refreshIvfPqIndex]] stamps into
    * the codebooks AND codes tables: the two writes are separate and
    * non-atomic, and a failure between them would leave old codes paired
    * with new codebooks, ranking ADC results silently wrong. Matching
    * epochs (or both absent — a [[saveIvfPqIndex]]-built index that has
    * never been refreshed) prove the pair is consistent.
    */
  private val RefreshEpochKey = "refresh_epoch"

  private def refreshEpoch(spark: org.apache.spark.sql.SparkSession, table: String) =
    IndexTables.properties(spark, table).get(RefreshEpochKey)

  /** Fails loudly when the codebooks/codes epochs disagree — the partially-
    * refreshed state nothing else in the persisted index marks.
    */
  private[graft] def requireIvfPqEpochsMatch(
      spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    val cb = refreshEpoch(spark, s"${name}_codebooks")
    val cd = refreshEpoch(spark, s"${name}_codes")
    require(cb == cd,
      s"IVF-PQ index '$name' is PARTIALLY REFRESHED: codebook refresh " +
        s"epoch ${cb.getOrElse("<none>")} vs codes epoch " +
        s"${cd.getOrElse("<none>")} — a refreshIvfPqIndex run failed " +
        "between its two table overwrites. Re-run refreshIvfPqIndex to " +
        "restore a consistent pair before probing")
  }

  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): LoadedIvfPqIndex = {
    requireIvfPqEpochsMatch(spark, name)
    LoadedIvfPqIndex(spark.table(s"${name}_codes"),
      spark.table(s"${name}_centroids"), spark.table(s"${name}_codebooks"))
  }

  /** CODEBOOK REFRESH under drift — the last leg of the persisted IVF-PQ
    * life cycle (build → append → probe → REFRESH when recall degrades):
    * retrain the sub-quantizer codebooks on the CURRENT corpus, seeded
    * from the index's own persisted codebooks ([[trainPqCodebooksInt]] —
    * `iters` integer-quantized Lloyd rounds, so the refreshed codebooks
    * are bit-reproducible by an unrolled oracle), then re-encode and
    * rewrite the codes tier in place. Coarse centroids, table names, and
    * the bucket layout (the codes table's own catalog spec, kept by
    * [[IndexTables.rewrite]]) all survive; later [[appendToIvfPqIndex]]
    * calls encode against the refreshed codebooks automatically.
    *
    * A refresh necessarily rewrites EVERY code row — codes are a function
    * of the codebooks — but that rewrite is the cheapest full pass the
    * index admits: one linear encode of `data` (compiled zero-shuffle
    * assignment + broadcast codebook argmin) into one bucketed write of
    * 1 + m LONGs per member; no raw vectors are ever stored, no probe
    * plan changes shape. m and the subspace width are read off the
    * persisted codebook table ([[codebookShape]], as on append) — the
    * caller restates nothing the index already knows.
    *
    * @param data the CURRENT corpus (the rows the refreshed index should
    *             cover — the previous membership is rewritten, so this is
    *             also the RTBF-compatible path: dropped rows vanish)
    * @param iters Lloyd rounds for [[trainPqCodebooksInt]] (2–3 capture
    *             most of the gain — the q_ivfpq_trained measurement)
    */
  def refreshIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      data: DataFrame, idCol: String, vecCol: String,
      name: String, iters: Int, scale: Int = 4): Unit = {
    val centroids = spark.table(s"${name}_centroids")
      .select(col("cluster_id").as(idCol), col("cvec").as(vecCol))
    val oldCbs = spark.table(s"${name}_codebooks")
    val (m, dim) = codebookShape(oldCbs, name)
    // The residuals feed iters+1 driver actions (the trainer's seed
    // collect + one collect per Lloyd round) and then the full re-encode —
    // the cross-action-reuse case an eager checkpoint exists for (the
    // q_ivfpq_trained lesson).
    val res = ivfResiduals(data, idCol, vecCol, centroids).ckptEager
    // newCbs is a driver-local relation (the trainer collects every round)
    // — safe to both persist as the new codebook table and feed the
    // re-encode without any read-after-overwrite hazard.
    val newCbs = trainPqCodebooksInt(res, "rvec", oldCbs, m, dim, iters, scale)
    // Codebooks are written first: append-after-refresh must see the new
    // ones even if the codes rewrite fails (codes are reproducible from
    // data, codebooks are the trained state). The epoch, bumped off the
    // codebooks' stamp, is stamped on each table right after its write, so
    // a failure between the two writes leaves the epochs unequal, which
    // loadIvfPqIndex rejects loudly. The codes rewrite replaces every row
    // from `data` under the table's own bucket spec.
    val epoch = Map(RefreshEpochKey -> (refreshEpoch(spark, s"${name}_codebooks")
      .map(_.toLong).getOrElse(0L) + 1L).toString)
    IndexTables.overwrite(newCbs.select(col("sub"), col("cid"), col("cvec")),
      s"${name}_codebooks")
    IndexTables.setProperties(spark, s"${name}_codebooks", epoch)
    val enc = ivfPqEncode(data, idCol, vecCol, centroids, newCbs, m, dim)
    IndexTables.rewrite(spark, s"${name}_codes")(_ => enc)
    IndexTables.setProperties(spark, s"${name}_codes", epoch)
  }

  /** [[ivfPqSearch]] over a [[loadIvfPqIndex]]-loaded index: the probe
    * list and the ADC LUT are built from the persisted centroid/codebook
    * tables and broadcast onto the bucketed codes scan — no join back to
    * raw vectors exists anywhere in the plan (there are none to join),
    * and the only exchange downstream of the scan is the slim
    * per-(query, candidate) aggregate every tier shares. Results are
    * identical to in-session [[ivfPqSearch]] over the same inputs
    * (round-trip-proven in VectorOpsSpec).
    */
  def ivfPqSearchLoaded(index: LoadedIvfPqIndex, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, dim: Int, k: Int, nProbe: Int,
      excludeSelf: Boolean = true): DataFrame =
    ivfPqSearch(index.codes,
      index.centroids.select(col("cluster_id").as(idCol), col("cvec").as(vecCol)),
      queries, idCol, vecCol, index.codebooks, m, dim, k, nProbe, excludeSelf)

  /** STATELESS stream-static probe of a persisted IVF-PQ codes index — the
    * online half of the ANN deployment: each arriving micro-batch of query
    * vectors probes the bucketed codes table with NO stream state anywhere
    * (the [[graft.operators.MinHashLsh.lshProbeEmissions]] shape). Works on
    * a streaming OR batch `queries` frame:
    *
    *  - probe selection (top-`nProbe` clusters by q·c) runs ROW-LOCALLY
    *    against the centroid table collected into literals at plan build —
    *    a window rank would be a stateful operator on a stream; sorting
    *    (−qc, cluster_id) structs ascending reproduces the batch rule
    *    qc DESC, cluster_id ASC exactly (double negation is exact);
    *  - the exploded (query, cluster) probes stream-static-join the
    *    bucketed codes scan (corpus side co-located, zero exchange) and the
    *    tiny codebooks table, and the ADC term is one compiled [[dot]] per
    *    matched subspace.
    *
    * Emits RAW (query_id, neighbor_id, qc, part) rows — one per matched
    * subspace; [[ivfPqCloseFromParts]] closes them into the ranked top-k
    * batch-side, bit-identical to [[ivfPqSearchLoaded]] over the same
    * queries (one oracle gates both — the FromCounts convention).
    */
  def ivfPqProbeEmissions(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String, name: String,
      m: Int, dim: Int, nProbe: Int, excludeSelf: Boolean = true,
      maxInlinedCentroids: Int = 4096): DataFrame = {
    require(m >= 1 && dim % m == 0 && nProbe >= 1)
    val sd = dim / m
    // Centroid tables are tiny by contract (the coarse quantizer is
    // driver-sized in every IVF deployment); collecting them here is what
    // buys the row-local, state-free probe rank. The contract is ENFORCED,
    // not assumed: every centroid is inlined into the per-row probe sort
    // as a literal struct, so plan size AND per-row cost grow linearly with
    // the coarse quantizer — a cap keeps an oversized one from compiling a
    // megabyte plan that evaluates thousands of dot products per arriving
    // query row.
    // limit(cap + 1) BEFORE the collect: the guard must fire before an
    // oversized centroid table materializes on the driver, not after — the
    // cap protects the driver as well as the plan size. One extra row is
    // enough to prove the violation.
    val cen = ArraySeq.unsafeWrapArray(spark.table(s"${name}_centroids")
      .select(col("cluster_id").cast("long"),
        transform(col("cvec"), _.cast("double")))
      .limit(maxInlinedCentroids + 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1))
    require(cen.length <= maxInlinedCentroids,
      s"ivfPqProbeEmissions inlines every coarse centroid of " +
        s"'$name' into the row-local probe rank, past maxInlinedCentroids=" +
        s"$maxInlinedCentroids — plan size and per-row cost are linear in " +
        "the quantizer. Use the batch ivfPqSearchLoaded path (broadcast " +
        "centroid join) for large quantizers, or raise the cap deliberately")
    val qvecD = transform(col(vecCol), _.cast("double"))
    val probeStructs = array(cen.map { case (cid, cv) =>
      struct((lit(-1.0) * dot(qvecD, typedLit(cv))).as("nqc"),
        lit(cid).as("cluster_id"))
    }: _*)
    val probed = queries
      .select(col(idCol).as("query_id"), qvecD.as("graft_qv"),
        explode(slice(sort_array(probeStructs), 1, nProbe)).as("pb"))
      .select(col("query_id"), col("graft_qv"),
        (lit(-1.0) * col("pb.nqc")).as("qc"), col("pb.cluster_id").as("cluster_id"))
    val cand = probed.join(spark.table(s"${name}_codes"), Seq("cluster_id"))
    val filt = if (excludeSelf) cand.filter(col("id") =!= col("query_id")) else cand
    val cbs = spark.table(s"${name}_codebooks")
      .select(col("sub").as("graft_cb_sub"), col("cid").as("graft_cb_cid"),
        transform(col("cvec"), _.cast("double")).as("graft_cb_vec"))
    filt.join(broadcast(cbs),
        col("sub") === col("graft_cb_sub") && col("code") === col("graft_cb_cid"))
      .select(col("query_id"), col("id").as("neighbor_id"), col("qc"),
        dot(slice(col("graft_qv"), col("sub") * sd + 1, lit(sd)),
          col("graft_cb_vec")).as("part"))
  }

  /** CLUSTER-QUALITY report for a centroid set — the "is this clustering
    * any good" measurement behind [[kmeans]]/[[ivfAssign]] deployment:
    * per cluster, the member count and the EXACT within-cluster inertia
    * Σ‖x − c‖² over ⌊v·10^scale+0.5⌋-quantized coordinates. Quantizing
    * BOTH sides to integers first makes the squared distances exact
    * longs (a double Σ of raw squares is aggregation-order-dependent and
    * could never hash-gate), so the total is an exact DECIMAL(38,0)
    * digit-string pin and the reported inertia one IEEE division by
    * 10^(2·scale). Empty clusters emit no row (their centroid simply
    * attracts nothing — the k-means empty-cluster signal).
    *
    * Overflow bound: per-row Σ_d (Δ·10^s)² must fit a LONG — at e4 and
    * |Δ| ≤ 10³ that is ~9·10⁴ dims; the cross-row sum is decimal-exact.
    *
    * Scale posture: one compiled zero-shuffle assignment fold + one
    * broadcast centroid join + one combiner-reduced per-cluster
    * aggregate. Output: (cluster_id, n, inertia_num — digit string,
    * inertia DOUBLE in original units²).
    */
  def clusterQuality(data: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, scale: Int = 4): DataFrame = {
    require(scale >= 0 && scale <= 8, s"scale must be in [0,8], got $scale")
    val cen = centroids.select(col(idCol).cast("long").as("cluster_id"),
      asDouble(col(vecCol)).as("graft_cvec"))
    val unit = math.pow(10.0, scale)
    def q(c: Column) = floor(c * unit + 0.5).cast("long")
    // The per-row sum folds in LONGS (a double fold of the squared terms
    // could pass 2^53 on wide vectors and silently round).
    val rowSq = aggregate(
      zip_with(asDouble(col("vec")), col("graft_cvec"),
        (x, y) => (q(x) - q(y)) * (q(x) - q(y))),
      lit(0L), (a, x) => a + x)
    assignWithVec(data, centroids, idCol, vecCol)
      .filter(col("cluster_id").isNotNull)
      .join(broadcast(cen), Seq("cluster_id"))
      .select(col("cluster_id"), rowSq.as("graft_sq"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("graft_sq"), 18, 0)).cast("decimal(38,0)").as("inertia_num"))
      .select(col("cluster_id"), col("n"),
        col("inertia_num").cast("string").as("inertia_num"),
        (exactDouble(col("inertia_num")) / lit(unit * unit)).as("inertia"))
  }

  /** Contiguous subvector `s` of `m` equal splits of a `dim`-wide vector
    * (doubles). `slice` is 1-based; width is a plan-time constant. */
  private def subvec(vec: Column, s: Int, m: Int, dim: Int): Column =
    slice(asDouble(vec), s * (dim / m) + 1, dim / m)

  /** Product-quantization ENCODE: each vector splits into `m` contiguous
    * subvectors and each subvector is assigned its nearest codeword by
    * EXACT squared-L2 (the standard PQ reconstruction objective even when
    * search is inner-product), ties to the smaller codeword id. The
    * codebooks relation is `(sub INT, cid LONG, cvec ARRAY)` — `dim/m`-wide
    * codewords per subspace, typically a handful of rows; it is broadcast,
    * so encoding is one explode + a combiner-reduced `min(struct)` argmin:
    * zero data-side shuffle beyond the (id, sub)-keyed aggregate, i.e. the
    * 100 TB posture is "codes are m LONGs per vector, computed map-side".
    *
    * Determinism: the L2 is a strict left fold of exact squared diffs; the
    * argmin is `min` over `struct(l2, cid)` — total because cid is unique
    * within a subspace.
    *
    * @return (id, sub, code)
    */
  def pqEncode(data: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val subs = (0 until m).map(s =>
      struct(lit(s).as("sub"), subvec(col(vecCol), s, m, dim).as("subvec")))
    val ex = data.select(col(idCol).as("id"), explode(array(subs: _*)).as("sv"))
      .select(col("id"), col("sv.sub").as("sub"), col("sv.subvec").as("subvec"))
    val l2 = foldSum(zip_with(col("subvec"), asDouble(col("cvec")),
      (x, y) => (x - y) * (x - y)))
    ex.join(broadcast(codebooks), Seq("sub"))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(l2.as("l2"), col("cid").as("cid"))).as("best"))
      .select(col("id"), col("sub"), col("best.cid").as("code"))
  }

  /** INTEGER-QUANTIZED Lloyd refinement of PQ sub-codebooks — the
    * trained-codebook path the r17 tuning curve demanded (the recall
    * plateau was codebook QUALITY, not search dials), made
    * cross-engine-reproducible by the [[clusterQuality]] trick: every
    * coordinate is quantized to the 10^-scale grid
    * (`floor(x·10^scale + 0.5)` as LONG), so
    *
    *  - ASSIGNMENT is an exact integer squared-L2 argmin (ties to the
    *    smaller codeword id) — no float fold order to match;
    *  - the UPDATE is `floor(Σ qv / n)` with the division done in doubles
    *    (sums stay ≪ 2^53, so the quotient is correctly rounded and
    *    `floor` lands identically in any IEEE engine) — never a float
    *    mean;
    *  - the RETURNED codewords are the exact rationals `qc / 10^scale`
    *    rendered as doubles — one correctly-rounded division per
    *    coordinate, bit-identical in Spark and DuckDB.
    *
    * A DuckDB twin therefore reproduces the ENTIRE training loop by
    * unrolling `iters` (assign, update) rounds as CTEs — the same move as
    * the q_bpe_merges unrolled-fold oracle — and the downstream
    * encode/search chain runs on bit-identical codebooks. Empty clusters
    * keep their previous codeword (the [[kmeansStep]] convention).
    *
    * Scale posture: each iteration is one broadcast join of the
    * (id, sub)-exploded quantized data against the m·K-row codebook, a
    * combiner-reduced (sub, cid, pos) sum aggregate, and an m·K·(dim/m)-row
    * driver collect (hundreds of rows — the codebook IS driver-sized);
    * the quantized data is persisted once across iterations. `iters` is
    * small by construction (2–3 rounds capture most of the Lloyd gain —
    * the gate measures it).
    *
    * @param data   one row per vector (typically [[ivfResiduals]] output)
    * @param vecCol ARRAY vector column, `dim` wide
    * @param seeds  initial codebooks `(sub INT, cid LONG, cvec ARRAY)` —
    *               deterministic, shared verbatim with the oracle
    * @param scale  quantization grid 10^-scale (default 4, the
    *               [[clusterQuality]] grid)
    * @return `(sub, cid, cvec ARRAY<DOUBLE>)` — drop-in for
    *         [[pqEncode]]/[[pqSearch]]/[[ivfPqEncode]]/[[ivfPqSearch]]
    */
  def trainPqCodebooksInt(data: DataFrame, vecCol: String, seeds: DataFrame,
      m: Int, dim: Int, iters: Int, scale: Int = 4): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    require(iters >= 0 && scale >= 1 && scale <= 9, s"bad iters=$iters/scale=$scale")
    val spark = data.sparkSession
    import spark.implicits._
    val unit = math.pow(10.0, scale)
    def q(c: Column) = floor(c * lit(unit) + lit(0.5)).cast("long")
    var cb: Seq[(Int, Long, Seq[Long])] = seeds
      .select(col("sub").cast("int").as("sub"), col("cid").cast("long").as("cid"),
        transform(asDouble(col("cvec")), x => q(x)).as("qc"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSeq
      .sortBy(e => (e._1, e._2))
    // iters = 0 is the 'seed tier' fast path: quantized seeds verbatim,
    // without ever touching (or persisting) the data side.
    if (iters == 0) {
      return cb.toDF("sub", "cid", "qc")
        .select(col("sub"), col("cid"),
          transform(col("qc"), x => x.cast("double") / lit(unit)).as("cvec"))
    }
    val subs = (0 until m).map(s => struct(lit(s).as("sub"),
      transform(subvec(col(vecCol), s, m, dim), x => q(x)).as("qv")))
    val ds = data
      .select(monotonically_increasing_id().as("gid"), explode(array(subs: _*)).as("sv"))
      .select(col("gid"), col("sv.sub").as("sub"), col("sv.qv").as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 0 until iters) {
      val cbDf = cb.toDF("sub", "cid", "qc")
      // Integer squared-L2: diffs ≤ ~10^(scale+1) per coordinate square to
      // ≤ 10^(2·scale+2), and dim/m of them fold well inside a LONG.
      val dist = aggregate(zip_with(col("qv"), col("qc"), (a, b) => (a - b) * (a - b)),
        lit(0L), (a, x) => a + x)
      // The per-(vector, sub) argmin carries qv through the struct (cid is
      // unique within a sub, so the (dist, cid) prefix already totals the
      // order and qv is never compared).
      val updRows = ds.join(broadcast(cbDf), Seq("sub"))
        .select(col("gid"), col("sub"), dist.as("d"), col("cid"), col("qv"))
        .groupBy(col("gid"), col("sub"))
        .agg(min(struct(col("d"), col("cid"), col("qv"))).as("best"))
        .select(col("sub"), col("best.cid").as("cid"),
          posexplode(col("best.qv")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"), col("pos"),
          floor(col("sv").cast("double") / col("n").cast("double"))
            .cast("long").as("qc"))
        .collect()
      val upd: Map[(Int, Long), Seq[Long]] = updRows
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (k2, rows) =>
          k2 -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq
        }
      cb = cb.map { case (s2, c2, old) => (s2, c2, upd.getOrElse((s2, c2), old)) }
    }
    ds.unpersist(blocking = false)
    cb.toDF("sub", "cid", "qc")
      .select(col("sub"), col("cid"),
        transform(col("qc"), x => x.cast("double") / lit(unit)).as("cvec"))
  }

  /** MIPS-PQ SEARCH with an asymmetric-distance (ADC) lookup table:
    * `score(q, x) ≈ Σ_s q_s · codeword(code_s(x))`. The LUT holds one exact
    * strict-fold dot per (query, sub, codeword) — O(|queries|·m·K) work
    * computed once and broadcast — and every encoded vector then scores by
    * LOOKUP, never touching its original floats: the compression story
    * (m LONGs per vector) and the query-time story (table reads instead of
    * dim-wide arithmetic) in one plan. Against [[topK]]'s exact ranking
    * this trades recall for that compression — spec'd in VectorOpsSpec,
    * not assumed.
    *
    * Determinism: each LUT entry is a strict fold; the per-pair score sums
    * its m terms through a sorted fold (the [[rrfFuse]] convention — bare
    * SUM over doubles is order-dependent for m > 2); ranking ties break on
    * neighbor id.
    *
    * @param codes [[pqEncode]] output for the corpus
    * @param excludeSelf drop candidates whose id equals the query id —
    *        correct ONLY when queries and corpus share one id space (the
    *        self-query case); pass false when the two relations have
    *        independent id spaces, where an accidental id collision is a
    *        legitimate neighbor (the [[crossNearDupPairs]] convention:
    *        ids are not compared across relations).
    * @return (query_id, rank INT, neighbor_id, adc DOUBLE)
    */
  def pqSearch(codes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dim: Int, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(m >= 1 && dim % m == 0 && k >= 1)
    val qsubs = (0 until m).map(s =>
      struct(lit(s).as("sub"), subvec(col(vecCol), s, m, dim).as("qsub")))
    val lut = queries
      .select(col(idCol).as("query_id"), explode(array(qsubs: _*)).as("sv"))
      .select(col("query_id"), col("sv.sub").as("sub"), col("sv.qsub").as("qsub"))
      .join(codebooks, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid").as("code"),
        dot(col("qsub"), col("cvec")).as("part"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val cand = codes.join(broadcast(lut), Seq("sub", "code"))
    val filtered = if (excludeSelf) cand.filter(col("id") =!= col("query_id")) else cand
    filtered
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(aggregate(sort_array(collect_list(col("part"))), lit(0.0), (a, x) => a + x)
        .as("adc"), count(lit(1)).as("graft_nsub"))
      .filter(col("graft_nsub") === m) // every subspace matched its LUT row
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("adc"))
  }

  /** Per-vector RESIDUAL against the nearest centroid (cosine rank-1, the
    * [[ivfAssign]] rule): (id, cluster_id, rvec = vec − cvec) — the input
    * both halves of the IVF-PQ tier share. Vectors no centroid accepts
    * (zero-norm) are excluded, as in [[ivfAssign]].
    */
  def ivfResiduals(data: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val cen = centroids.select(col(idCol).cast("long").as("cluster_id"),
      asDouble(col(vecCol)).as("graft_cvec"))
    assignWithVec(data, centroids, idCol, vecCol)
      .filter(col("cluster_id").isNotNull)
      .join(broadcast(cen), Seq("cluster_id"))
      .select(col("id"), col("cluster_id"),
        zip_with(asDouble(col("vec")), col("graft_cvec"),
          (x, y) => x - y).as("rvec"))
  }

  /** IVF-PQ residual ENCODE — the production middle tier between
    * [[ivfAssign]]'s coarse lists and [[pqEncode]]'s flat codes (the
    * FAISS `IVFx,PQy` composition): each vector stores its coarse
    * cluster id plus `m` codeword ids quantizing the RESIDUAL
    * vec − centroid. Residuals carry far less energy than raw vectors,
    * so the same codebook budget spends its resolution where the coarse
    * quantizer left error — the reason every large-scale deployment
    * quantizes residuals, not vectors.
    *
    * Same scale posture as [[pqEncode]]: the assignment is the compiled
    * zero-shuffle fold, the codebooks broadcast, and the encode is one
    * explode + combiner-reduced argmin — a vector's index footprint is
    * 1 + m LONGs, computed map-side.
    *
    * @return (id, cluster_id, sub, code)
    */
  def ivfPqEncode(data: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val resid = ivfResiduals(data, idCol, vecCol, centroids)
    val subs = (0 until m).map(s =>
      struct(lit(s).as("sub"), subvec(col("rvec"), s, m, dim).as("subvec")))
    val ex = resid.select(col("id"), col("cluster_id"),
        explode(array(subs: _*)).as("sv"))
      .select(col("id"), col("cluster_id"),
        col("sv.sub").as("sub"), col("sv.subvec").as("subvec"))
    val l2 = foldSum(zip_with(col("subvec"), asDouble(col("cvec")),
      (x, y) => (x - y) * (x - y)))
    ex.join(broadcast(codebooks), Seq("sub"))
      .groupBy(col("id"), col("cluster_id"), col("sub"))
      .agg(min(struct(l2.as("l2"), col("cid").as("cid"))).as("best"))
      .select(col("id"), col("cluster_id"), col("sub"), col("best.cid").as("code"))
  }

  /** IVF-PQ SEARCH: probe the `nProbe` clusters of largest q·c (the
    * IVF-IP rule — q·c is the base term of the very approximation), then
    * score each probed member by the residual-ADC decomposition
    *
    *   score(q, x) ≈ q·c(x) + Σ_s q_s · codeword(code_s(x))
    *
    * — the coarse term exact per (query, cluster), the residual terms
    * read from the same broadcast LUT as [[pqSearch]], and no candidate
    * ever touches its original floats. Against flat [[pqSearch]] this
    * buys the probe-pruned candidate set (|data|·nProbe/|clusters|, not
    * |data|); against exact [[ivfSearch]] it buys the 1 + m LONG
    * footprint — both knobs of the FAISS IVF-PQ deployment standard.
    *
    * Determinism: the q·c dots and LUT entries are strict folds; the
    * per-pair residual sum is a sorted fold (the [[pqSearch]]
    * convention) with the coarse term added last; ranking ties break on
    * neighbor id. Recall is measured by gate, not assumed (the
    * [[EvalOps.pairSetPrf]] judge composes, as with q_ann_recall).
    *
    * @param encoded [[ivfPqEncode]] output for the corpus
    * @return (query_id, rank INT, neighbor_id, adc DOUBLE)
    */
  def ivfPqSearch(encoded: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, codebooks: DataFrame,
      m: Int, dim: Int, k: Int, nProbe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(m >= 1 && dim % m == 0 && k >= 1 && nProbe >= 1)
    val cen = centroids.select(col(idCol).cast("long").as("cluster_id"),
      asDouble(col(vecCol)).as("graft_cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("qc").desc, col("cluster_id"))
    val probes = broadcast(q).crossJoin(broadcast(cen))
      .select(col("query_id"), col("cluster_id"),
        dot(col("qvec"), col("graft_cvec")).as("qc"))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("cluster_id"), col("qc"))
    val qsubs = (0 until m).map(s =>
      struct(lit(s).as("sub"), subvec(col("qvec"), s, m, dim).as("qsub")))
    val lut = q.select(col("query_id"), explode(array(qsubs: _*)).as("sv"))
      .select(col("query_id"), col("sv.sub").as("sub"), col("sv.qsub").as("qsub"))
      .join(codebooks, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid").as("code"),
        dot(col("qsub"), col("cvec")).as("part"))
    val cand = encoded.join(broadcast(probes), Seq("cluster_id"))
    val withLut = cand.join(broadcast(lut), Seq("query_id", "sub", "code"))
    val filtered =
      if (excludeSelf) withLut.filter(col("id") =!= col("query_id")) else withLut
    ivfPqCloseFromParts(filtered.select(col("query_id"),
      col("id").as("neighbor_id"), col("qc"), col("part")), m, k)
  }

  /** The FORMULA half of [[ivfPqSearch]]'s tail (the FromCounts split
    * applied to ANN): closes raw candidate rows — one row per matched
    * (query, candidate, subspace), carrying the probe's coarse dot `qc`
    * and the subspace ADC term `part` — into the ranked top-k. Split out
    * so the stateless streaming probe ([[ivfPqProbeEmissions]]) can emit
    * the raw rows from inside a micro-batch (where windows and aggregates
    * would be stateful) and close them batch-side, landing bit-identical
    * on the batch search — one oracle gates both.
    *
    * Input contract: `cands` = (query_id, neighbor_id, qc, part), exactly
    * one row per matched subspace; candidates matching fewer than `m`
    * subspaces are dropped (they carry no complete ADC).
    */
  def ivfPqCloseFromParts(cands: DataFrame, m: Int, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    cands
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("qc")).as("qc"),
        aggregate(sort_array(collect_list(col("part"))), lit(0.0), (a, x) => a + x)
          .as("radc"),
        count(lit(1)).as("graft_nsub"))
      .filter(col("graft_nsub") === m)
      .withColumn("adc", col("qc") + col("radc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("adc"))
  }

  /** Dominant principal component by INTEGER-SCALED power iteration — the
    * embedding-pipeline staple (whitening direction, drift axis, PCA-based
    * dimensionality screen) in the [[graft.operators.GraphOps.pageRankInt]]
    * determinism discipline: every step is BIGINT multiply-then-
    * truncate-shift, so the result is bit-reproducible across engines and
    * partitionings — float power iteration's order-sensitive Σ could
    * never face a hash gate.
    *
    * The DISTRIBUTED work is the one data pass: vectors quantize to
    * ten-thousandth BIGINTs and the scaled scatter matrix
    *
    *   C = n · Σ x xᵀ − (Σx)(Σx)ᵀ        (= n² · covariance, exact)
    *
    * comes from a combiner-reduced aggregate keyed on (i, j) — d² cells of
    * state, data never collected. The d×d matrix (driver-bounded like a
    * k-means centroid set) then runs `iterations` rounds of
    *
    *   y = C'' x;  x' = trunc(y / 2^max(0, bitlen(max|y|) − 21))
    *
    * where C'' = trunc(C / 2^max(0, bitlen(max|C|) − 30)) — divisions
    * truncate toward zero (both engines' integer division) and magnitudes stay
    * under 2³⁰·2²¹·d < 2⁶³, every floor is a deterministic function of
    * the data, and the oracle unrolls the identical recurrence. Sign
    * convention: the max-|entry| coordinate (lowest index on ties) is
    * made positive. x₀ = 1 (document the standard caveat: a start vector
    * exactly orthogonal to the dominant eigenvector converges to the
    * second — measure-zero and fixture-checked).
    *
    * Exactness bound: the driver arithmetic is Long, so inputs must keep
    * n · max|x_q|² · d under 2⁶² (require-checked from the aggregates) —
    * ~3·10⁹ unit-scale vectors; beyond that, sample (the direction of
    * 3·10⁹ points is not improved by the next decade).
    *
    * Output: (dim 0-based INT, component BIGINT in the final iteration's
    * integer scale — a DIRECTION, not a unit vector).
    */
  def topComponentInt(df: DataFrame, vecCol: String,
      iterations: Int = 8): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = df.sparkSession
    // float → DOUBLE first (exact widening in both engines), then the
    // decimal quantization — a direct float→decimal cast would expose the
    // two engines' float-rounding conventions.
    val vq = transform(col(vecCol),
      e => (e.cast("double").cast("decimal(18,4)") * 10000).cast("long"))
    val base = df.filter(col(vecCol).isNotNull).select(vq.as("v"))
    val flat = base.select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
    val pairRows = flat
      .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("j", "xj")))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,0)")).as("sxx"))
    val sums = flat.groupBy(col("i"))
      .agg(sum(col("xi").cast("decimal(38,0)")).as("s"), count(lit(1)).as("cnt"))
    val sRows = sums.collect()
    require(sRows.nonEmpty, "topComponentInt: no vectors")
    val n = BigInt(sRows.head.getLong(2))
    val d = sRows.length
    val s = Array.ofDim[BigInt](d)
    sRows.foreach(r => s(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
    val c = Array.ofDim[BigInt](d, d)
    pairRows.collect().foreach { r =>
      c(r.getInt(0))(r.getInt(1)) = BigInt(r.getDecimal(2).toBigInteger)
    }
    def bitlen(x: BigInt): Int = x.abs.bitLength
    // C = n·Sxx − S Sᵀ, then quantized to ≤ 2^30 so all later products
    // stay in Long. The Long bound is checked, not assumed. All divisions
    // TRUNCATE toward zero — Scala's BigInt/Long `/` and DuckDB's `//`
    // share that convention (an arithmetic shift would FLOOR and diverge
    // on negative entries — measured as an off-by-one at the gate).
    val cFull = Array.tabulate(d, d)((i, j) => n * c(i)(j) - s(i) * s(j))
    val maxC = cFull.flatten.map(_.abs).max
    require(bitlen(maxC) <= 62,
      s"topComponentInt: scatter magnitude 2^${bitlen(maxC)} exceeds the Long " +
        "bound — sample the input (see scaladoc)")
    val shiftC = math.max(0, bitlen(maxC) - 30)
    val cq = cFull.map(_.map(v => (v / BigInt(1L << shiftC)).toLong))
    var x = Array.fill(d)(1L)
    for (_ <- 1 to iterations) {
      val y = Array.tabulate(d)(i =>
        (0 until d).map(j => cq(i)(j) * x(j)).sum)
      val m = y.map(math.abs).max
      x =
        if (m == 0L) y
        else {
          val shift = math.max(0, (64 - java.lang.Long.numberOfLeadingZeros(m)) - 21)
          y.map(v => v / (1L << shift))
        }
    }
    // Deterministic sign: the max-|v| coordinate (lowest index on ties)
    // points positive.
    val pick = x.zipWithIndex.maxBy { case (v, i) => (math.abs(v), -i) }._1
    val signed = if (pick < 0) x.map(v => -v) else x
    import spark.implicits._
    signed.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("dim", "component")
      .select(col("dim").cast("int").as("dim"), col("component"))
  }
}
