package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.meta.IndexTables

/** MinHash + banded LSH near-duplicate detection — the scale path for
  * document dedup: candidate pairs come only from shared LSH band buckets
  * (an equi-join), never from an all-pairs comparison.
  *
  * Pipeline: shingle → explode to (doc, shingle) rows → hash once per
  * shingle → the MinHash signature as `numHashes` codegen'd `min`
  * aggregates → band keys → bucket-join on (band, band key) →
  * exact-Jaccard verification of the candidates only.
  *
  * Why explode + aggregate rather than a per-row array expression: Spark
  * evaluates the body of a higher-order function per element, so a nested
  * `transform(sig, k -> array_min(transform(hashes, ...)))` re-computes the
  * whole shingle-hash array once per k — a ~numHashes× interpreted blowup
  * that whole-stage codegen can't save (HOFs don't codegen). The
  * explode/agg shape hashes each shingle exactly once and keeps every
  * operator in codegen; map-side partial aggregation reduces the shuffle to
  * one signature row per (doc, partition).
  *
  * Scale posture (the 100 TB argument):
  *  - shingle hashing is embarrassingly parallel, codegen'd;
  *  - shuffle #1: signature aggregation keyed by doc id (combiner-reduced);
  *  - shuffle #2: the band-bucket equi-join, keyed on (band, bandKey) —
  *    bucket sizes are bounded because only near-duplicates (and rare false
  *    positives) collide in a band;
  *  - verification joins shingle sets back by doc id — proportional to the
  *    number of candidate pairs, not n².
  * Recall: P(candidate | J) = 1 - (1 - J^r)^b; at the default 16 bands × 4
  * rows a pair with J ≥ 0.8 is missed with probability < 1e-6.
  *
  * The permutation family is `h_k(x) = ((2k+1)·x + k² + 41) mod Prime` —
  * odd multipliers, fixed constants, so signatures are reproducible in any
  * engine with 64-bit arithmetic (the DuckDB oracle recomputes them).
  */
object MinHashLsh {
  import TextOps.Prime

  /** The k-th permutation hash of a shingle-hash column. */
  def permHash(h: Column, k: Int): Column =
    (h * (2 * k + 1) + (k * k + 41)) % Prime

  /** MinHash signatures, one row per doc: (doc_id, s_0 … s_{numHashes-1}).
    * Input: (doc_id, sh: ARRAY<STRING>) with non-empty shingle arrays.
    *
    * ONE compiled per-row fold ([[graft.functions.MinHashSig]]): shingle
    * hashing and all `numHashes` permutation minima in a single pass —
    * zero shuffle (the explode → k-MIN hash aggregate it replaces, kept as
    * [[signaturesAgg]] for the equivalence spec, shuffled k-column partial
    * state per document). The banded join is now the pipeline's only
    * exchange.
    */
  def signatures(shingled: DataFrame, numHashes: Int): DataFrame = {
    val sv = org.apache.spark.sql.graft.bridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.graft.bridge.expression(col("sh")), numHashes))
    shingled.select(col("doc_id"), sv.as("graft_sv"))
      .filter(col("graft_sv").isNotNull)
      .select(col("doc_id") +:
        (0 until numHashes).map(k => col("graft_sv")(k).as(s"s_$k")): _*)
  }

  /** Reference formulation of [[signatures]] as the explode → k-MIN hash
    * aggregate — kept as the executable spec the compiled fold must stay
    * row-identical to (MinHashLshSpec), and the shape the DuckDB oracle
    * mirrors.
    */
  def signaturesAgg(shingled: DataFrame, numHashes: Int): DataFrame = {
    val hashes = shingled
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), TextOps.polyHash(col("shingle")).as("h"))
    val sigCols = (0 until numHashes).map(k => min(permHash(col("h"), k)).as(s"s_$k"))
    hashes.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** (doc_id, band, band_key) rows: the band key is `xxhash64` over the
    * band's signature values — a primitive LONG join key. Equal signature
    * rows in a band ⇒ equal keys; the converse holds up to a 2⁻⁶⁴ hash
    * collision, which can only ADD a candidate pair and is absorbed by the
    * exact-Jaccard verification (which already tolerates LSH false
    * positives). The previous `concat_ws(":", …)` string key carried the
    * same information in variable-length bytes — the string-vs-long key
    * delta measured ~1.8× on the n-gram join when `PackedShingles` made the
    * same change there (band is a separate join column, so cross-band
    * collisions are impossible regardless). One more collision class beyond
    * 2⁻⁶⁴: `xxhash64` SKIPS null children (a null signature value leaves the
    * running hash unchanged), so band rows differing only in null position
    * collide — harmless here because [[signatures]] emits non-null values
    * for every doc that survives the non-empty-shingles filter (`min` over a
    * non-empty group), and a false candidate is absorbed by exact
    * verification anyway; callers feeding nullable signatures should assert
    * non-null upstream.
    */
  def bandedKeys(sigs: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until numBands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((0 until rowsPerBand)
          .map(j => col(s"s_${b * rowsPerBand + j}")): _*).as("band_key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Near-duplicate pairs of `docs` with word-`shingleN`-gram Jaccard
    * similarity ≥ `threshNum/threshDen`, found via banded LSH and verified
    * exactly. Output: (doc_i, doc_j, n_common, n_union) with doc_i < doc_j —
    * integer columns only, so the result is bit-stable across engines
    * (the threshold test is the cross-multiplied integer comparison
    * `n_common * threshDen >= n_union * threshNum`).
    */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      numBands: Int = 16,
      shingleN: Int = 3,
      threshNum: Int = 1,
      threshDen: Int = 2): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val r = numHashes / numBands
    val shingled = shingleDocs(docs, idCol, textCol, shingleN)
    val banded = bandedKeys(signatures(shingled, numHashes), numBands, r)

    // A pair colliding in several bands would appear once per band — distinct
    // BEFORE the (heavier) shingle-set verification join.
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .distinct()

    candidates
      .join(shingled.select(col("doc_id").as("doc_i"), col("sh").as("sh_i")), "doc_i")
      .join(shingled.select(col("doc_id").as("doc_j"), col("sh").as("sh_j")), "doc_j")
      .select(col("doc_i"), col("doc_j"),
        size(array_intersect(col("sh_i"), col("sh_j"))).as("n_common"),
        size(array_union(col("sh_i"), col("sh_j"))).as("n_union"))
      .filter(col("n_union") > 0 &&
        col("n_common") * threshDen >= col("n_union") * threshNum)
  }

  // ------------------------------------------------------- persisted index

  /** Shingle + id projection shared by [[nearDupPairs]], the index builder,
    * the append path, and the probe — ONE code path, so a probe's
    * signatures can never drift from the signatures the index stores.
    *
    * The non-empty-shingles filter is expressed on the raw token count, not
    * on size(sh): a `size(sh) > 0` predicate gets pushed below the source's
    * exchange with the whole shingle expression inlined, re-computing the
    * heavy shingling in the (possibly single-partition) scan stage. The
    * token-count form is equivalent (wordShingles is non-empty iff the doc
    * has >= shingleN tokens) and cheap wherever the optimizer moves it.
    */
  private def shingleDocs(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    docs
      .filter(size(TextOps.tokens(col(textCol))) >= shingleN)
      .select(col(idCol).as("doc_id"), TextOps.wordShingles(col(textCol), shingleN).as("sh"))

  /** Build and persist a banded-LSH corpus index — the production dedup
    * pattern at 100 TB: the corpus's signatures are computed ONCE and every
    * later ingest batch probes them, instead of re-shingling petabytes per
    * batch. Two bucketed tables ([[IndexTables.overwrite]]):
    * `<name>_bands` (doc_id, band, band_key) bucketed by (band, band_key) —
    * so a probe's band join reads corpus buckets CO-LOCATED, with no
    * Exchange on the corpus side — and `<name>_sets` (doc_id, sh) bucketed
    * by doc_id for the exact-verify join, likewise corpus-shuffle-free.
    * `<name>_bands` carries `num_hashes`, `num_bands` and `shingle_n` as
    * `graft.*` properties, stamped last, so append/probe can never run
    * with mismatched parameters or against a half-written build.
    */
  def saveLshIndex(
      docs: DataFrame, idCol: String, textCol: String, name: String,
      numHashes: Int = 32, numBands: Int = 8, shingleN: Int = 3,
      buckets: Int = 32): Unit = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val sh = shingleDocs(docs, idCol, textCol, shingleN)
    val banded = bandedKeys(signatures(sh, numHashes), numBands, numHashes / numBands)
    IndexTables.overwrite(banded, s"${name}_bands", Seq("band", "band_key"), buckets)
    IndexTables.overwrite(sh, s"${name}_sets", Seq("doc_id"), buckets)
    IndexTables.setProperties(docs.sparkSession, s"${name}_bands", Map(
      "num_hashes" -> numHashes.toString, "num_bands" -> numBands.toString,
      "shingle_n" -> shingleN.toString))
  }

  /** (numHashes, numBands, shingleN) of a [[saveLshIndex]]-built index. */
  private def lshParams(
      spark: org.apache.spark.sql.SparkSession, name: String): (Int, Int, Int) = {
    def p(key: String) = IndexTables.intProperty(spark, s"${name}_bands", key)
    (p("num_hashes"), p("num_bands"), p("shingle_n"))
  }

  /** Incremental index maintenance — the daily-ingest path: signatures for
    * the NEW docs only (parameters come from the bands table's properties,
    * so they cannot drift), appended to both bucketed tables under each
    * table's own catalog bucket spec ([[IndexTables.append]]), preserving
    * the probe-side co-location. The index state afterwards is IDENTICAL to a
    * full [[saveLshIndex]] over (old ∪ new) — the equality `q_lsh_probe`
    * pins against a brute-force oracle over the union. Cost is O(|new|):
    * a growing corpus never recomputes or rewrites existing signatures.
    */
  def appendToLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, name: String): Unit = {
    val (nh, nb, sn) = lshParams(spark, name)
    val sh = shingleDocs(newDocs, idCol, textCol, sn)
    val banded = bandedKeys(signatures(sh, nh), nb, nh / nb)
    // The two appends are not atomic; order them so a failure BETWEEN them
    // degrades safely. Sets first: an orphan sets row (no bands rows yet)
    // is invisible — candidates originate from band collisions, and the
    // sets join only ever looks up ids the bands table produced. The
    // reverse order would leave band rows whose verify lookup silently
    // drops candidates (missed duplicates) until the next repair.
    IndexTables.append(sh, s"${name}_sets")
    IndexTables.append(banded, s"${name}_bands")
  }

  /** Probe the persisted index with a new batch: cross pairs
    * (new doc × corpus doc) with word-shingle Jaccard ≥ threshNum/threshDen
    * — "which corpus documents does each incoming document duplicate",
    * WITHOUT touching corpus text. Candidates come from band-key collisions
    * against the bucketed bands table (corpus side reads co-located — no
    * exchange); verification joins the bucketed sets table by doc id, cost
    * proportional to candidates. In-batch (new × new) dedup is
    * [[nearDupPairs]]'s job, run on the batch alone.
    * Output: (new_id, corpus_id, n_common, n_union); a doc present in both
    * relations never pairs with itself.
    */
  def lshProbe(
      spark: org.apache.spark.sql.SparkSession,
      probeDocs: DataFrame, idCol: String, textCol: String, name: String,
      threshNum: Int = 1, threshDen: Int = 2): DataFrame =
    lshProbeWith(spark, probeDocs, idCol, textCol, name, threshNum, threshDen,
      dedupCandidates = true)

  /** Pin the index's two tables in executor memory for a LONG-RUNNING
    * online-dedup job: Spark's stream-static join re-plans the static side
    * every micro-batch, and an uncached bucketed table is re-read from
    * parquet each time — per-batch cost proportional to the CORPUS, not
    * the batch. With the tables cached, each micro-batch's plan resolves to
    * the in-memory relation instead (cache lookup is by analyzed plan, so
    * the streaming query picks it up with no code change), and the
    * per-batch cost drops to the probe batch alone — measured in
    * BASELINE.md's round-15 recording. Output is identical either way
    * (spec-pinned).
    *
    * Lifecycle: any WRITE to the tables ([[appendToLshIndex]], a
    * [[IndexTables.compact]] swap, an RTBF purge)
    * invalidates/drops the cache entries — re-invoke after each index
    * maintenance operation. Eager (`count()` per table) so the first
    * micro-batch doesn't pay the materialization.
    */
  def cacheLshIndex(spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    Seq(s"${name}_bands", s"${name}_sets").foreach { t =>
      spark.catalog.cacheTable(t)
      spark.table(t).count()
      ()
    }

  /** Release [[cacheLshIndex]]'s executor memory (job teardown). */
  def uncacheLshIndex(spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    Seq(s"${name}_bands", s"${name}_sets").foreach { t =>
      if (spark.catalog.isCached(t)) spark.catalog.uncacheTable(t)
    }

  /** [[lshProbe]] WITHOUT the candidate dedup: a pair colliding in k bands
    * emits (and verifies) k times, and the caller deduplicates downstream.
    * This is the STREAMING twin's shape — probing an unbounded document
    * stream against the static index is a stateless stream-static join per
    * micro-batch, but a stream-side `distinct` would hold every pair ever
    * seen as unbounded state; per-band emissions + a batch-side distinct at
    * the sink keep the stream stateless (the q_stream_neardup posture).
    * Final pair sets are identical; the batch form just verifies less.
    *
    * Stream-static joins re-read the static side EVERY micro-batch (Spark
    * has no cross-batch reuse for uncached relations): a long-running
    * online-dedup job should [[cacheLshIndex]] after each index
    * maintenance operation so the per-batch cost is the probe batch alone
    * (measured — BASELINE.md round-15 recording).
    */
  def lshProbeEmissions(
      spark: org.apache.spark.sql.SparkSession,
      probeDocs: DataFrame, idCol: String, textCol: String, name: String,
      threshNum: Int = 1, threshDen: Int = 2): DataFrame = {
    val (nh, nb, sn) = lshParams(spark, name)
    val rpb = nh / nb
    // CARRIED-SHINGLES plan — the stateless-streaming shape. The batch
    // form's "join candidates back to the probe's shingle sets by new_id"
    // is batch-local in spirit, but under a streaming source BOTH sides
    // derive from the stream, so Spark plans a stateful
    // StreamingSymmetricHashJoin: a state store plus two
    // REQUIRED_BY_STATEFUL_OPERATOR exchanges and a second scan of the
    // source — measured as ~95% of the per-batch cost at sf1 (6.4 s/batch
    // whether or not the static index was cached; see BASELINE.md r15).
    // Carrying `sh` through the band explode removes the join-back
    // entirely: ONE scan of the batch, the band-collision join against the
    // bucketed corpus (corpus side co-located, zero exchange), then the
    // verify join against the bucketed sets — no stream state anywhere.
    // The cost is `numBands` copies of each probe doc's shingle array in
    // the band join's stream side; micro-batch size (maxFilesPerTrigger /
    // maxBytesPerTrigger) bounds it.
    val sv = org.apache.spark.sql.graft.bridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.graft.bridge.expression(col("sh")), nh))
    val bandStructs = (0 until nb).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((0 until rpb)
          .map(j => col("graft_sv")(b * rpb + j)): _*).as("band_key"))
    }
    val banded = shingleDocs(probeDocs, idCol, textCol, sn)
      .select(col("doc_id").as("new_id"), col("sh").as("sh_n"), sv.as("graft_sv"))
      .filter(col("graft_sv").isNotNull)
      .select(col("new_id"), col("sh_n"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("new_id"), col("sh_n"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    banded
      .join(spark.table(s"${name}_bands").toDF("corpus_id", "band", "band_key"),
        Seq("band", "band_key"))
      .filter(col("new_id") =!= col("corpus_id"))
      .join(spark.table(s"${name}_sets").toDF("corpus_id", "sh_c"), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        size(array_intersect(col("sh_n"), col("sh_c"))).as("n_common"),
        size(array_union(col("sh_n"), col("sh_c"))).as("n_union"))
      .filter(col("n_union") > 0 &&
        col("n_common") * threshDen >= col("n_union") * threshNum)
  }

  private def lshProbeWith(
      spark: org.apache.spark.sql.SparkSession,
      probeDocs: DataFrame, idCol: String, textCol: String, name: String,
      threshNum: Int, threshDen: Int, dedupCandidates: Boolean): DataFrame = {
    val (nh, nb, sn) = lshParams(spark, name)
    val pSh = shingleDocs(probeDocs, idCol, textCol, sn)
    val pBand = bandedKeys(signatures(pSh, nh), nb, nh / nb)
    val cand0 = pBand.toDF("new_id", "band", "band_key")
      .join(spark.table(s"${name}_bands").toDF("corpus_id", "band", "band_key"),
        Seq("band", "band_key"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id")
    val candidates = if (dedupCandidates) cand0.distinct() else cand0
    candidates
      .join(pSh.toDF("new_id", "sh_n"), "new_id")
      .join(spark.table(s"${name}_sets").toDF("corpus_id", "sh_c"), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        size(array_intersect(col("sh_n"), col("sh_c"))).as("n_common"),
        size(array_union(col("sh_n"), col("sh_c"))).as("n_union"))
      .filter(col("n_union") > 0 &&
        col("n_common") * threshDen >= col("n_union") * threshNum)
  }
}
