package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-data-pipeline operators (dedup, fingerprint,
  * stats): tokenization, word n-gram shingling, and a cross-engine
  * deterministic polynomial hash.
  *
  * Everything here is a pure Catalyst `Column` combinator (higher-order array
  * functions — no UDFs), so the expressions participate in codegen and column
  * pruning, and — critically for the DuckDB oracle gate — evaluate to
  * bit-identical values in any engine that folds arrays left-to-right with
  * 64-bit integer arithmetic. The DuckDB twin of [[polyHash]] is
  * `list_reduce(list_prepend(0, list_transform(range(1,length(s)+1),
  * i -> ascii(substr(s,i,1))))), (acc,c) -> (acc*31+c) % 1000000007)`.
  *
  * Scale: all per-row expressions — embarrassingly parallel, no shuffle, no
  * driver involvement; cost is O(chars) per row regardless of cluster size.
  */
object TextOps {

  /** Modulus for all polynomial hashes: largest 10-digit prime below 2^30,
    * so `acc * 31 + c` stays far under 2^63 (no overflow divergence between
    * engines).
    */
  val Prime = 1000000007L

  /** Whitespace tokenization — the reference vocabulary is space-separated
    * lowercase words (fixture `documents.text`).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Codepoints of `s` as ARRAY<BIGINT>, 1-indexed traversal order.
    * Guarded for the empty string: Spark's `sequence(1, 0)` counts DOWN
    * ([1,0]), unlike DuckDB's empty `range(1,1)` — an unguarded version
    * would hash empty strings differently across engines.
    */
  def charCodes(s: Column): Column =
    when(length(s) === 0, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), length(s)),
        i => ascii(s.substr(i, lit(1))).cast("long")))

  /** Deterministic left-fold polynomial hash of a string:
    * `h_i = (h_{i-1} * base + codepoint_i) mod Prime`, `h_0 = 0`.
    * Used for token hashing (MinHash/SimHash) and whole-document rolling
    * fingerprints. Backed by the codegen'd [[graft.functions.PolyHash]]
    * expression; [[polyHashHof]] is the higher-order-function formulation it
    * must stay bit-identical to (cross-checked in TextOpsSpec).
    */
  def polyHash(s: Column, base: Long = 31L): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.PolyHash(org.apache.spark.sql.graft.bridge.expression(s), base))

  /** Reference formulation of [[polyHash]] as interpreted array-fold
    * expressions — kept as the executable spec of the hash (the DuckDB
    * oracle twin mirrors this shape 1:1).
    */
  def polyHashHof(s: Column, base: Long = 31L): Column =
    aggregate(charCodes(s), lit(0L), (acc, c) => (acc * base + c) % Prime)

  /** 60-informative-bit token hash: two independent polynomial hashes (bases
    * 31 and 131) packed as `h31 + h131 · 2^30`. [[polyHash]] alone caps at
    * ~30 bits (`Prime` < 2^30), which would leave the upper half of a wide
    * SimHash signature constant — and a constant band in banded LSH matches
    * EVERYTHING (a full quadratic candidate set). DuckDB twin: same two
    * list_reduce folds combined the same way.
    */
  def wideHash(s: Column): Column =
    polyHash(s, 31L) + polyHash(s, 131L) * lit(1L << 30)

  /** Distinct word `n`-gram shingles of `text` (ARRAY<STRING>). Documents
    * with fewer than `n` tokens yield an empty array (same guard rationale
    * as [[charCodes]]). Compiled ([[graft.functions.WordShingles]]): one
    * O(bytes) pass emitting zero-copy slices; [[wordShinglesHof]] is the
    * interpreted formulation it must stay element-identical to
    * (cross-checked in WordShinglesSpec; the DuckDB oracle twin mirrors the
    * HOF shape).
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.bridge.expression(text), n))

  /** Reference formulation of [[wordShingles]] as interpreted HOF
    * expressions — kept as the executable spec.
    *
    * The token array is let-bound through a singleton-array `transform` so
    * the shingle lambda references a LAMBDA VARIABLE, not the `split`
    * expression: column DSL inlining would otherwise paste `split(text)`
    * into every `element_at` call site and re-tokenize the whole document
    * once per shingle position — O(tokens²) per document, which dominated
    * the dedup pipelines before this binding.
    */
  def wordShinglesHof(text: Column, n: Int = 3): Column =
    element_at(
      transform(array(tokens(text)), w => {
        val grams = transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))
        array_distinct(when(size(w) < n, array().cast("array<string>")).otherwise(grams))
      }),
      1)

  /** Distinct character `n`-gram shingles of `text` (ARRAY<STRING>,
    * first-occurrence order), backed by the codegen'd
    * [[graft.functions.CharShingles]] expression — one compiled O(chars)
    * pass per row. Strings shorter than `n` yield an empty array.
    * [[charShinglesHof]] is the higher-order formulation it must stay
    * element-identical to on `length >= n` (cross-checked in
    * CharShinglesSpec).
    */
  def charShingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.CharShingles(
        org.apache.spark.sql.graft.bridge.expression(text), n))

  /** [[charShingles]] with each n-gram packed losslessly into a LONG
    * (bijective for valid UTF-8, n ≤ 3 — see
    * [[graft.functions.PackedShinglesImpl.shingles]]). Same set semantics,
    * primitive join/aggregate keys: use wherever the shingles are only ever
    * compared or counted, never shown.
    */
  def charShinglesPacked(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.PackedShingles(
        org.apache.spark.sql.graft.bridge.expression(text), n))

  /** [[wideHash]] of every distinct `n`-codepoint window of `text`
    * (ARRAY<BIGINT>, first-occurrence order) — the fused, codegen'd form of
    * `transform(charShingles(text, n), wideHash)`, one compiled Rabin–Karp
    * pass per row ([[graft.functions.WindowHashes]]; the interpreted twin is
    * pinned in WindowHashesSpec). Use wherever windows are only ever joined
    * or counted by hash ([[CorpusOps.sharedWindowOverlap]],
    * [[CorpusOps.windowDuplication]]).
    */
  def windowHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.WindowHashes(
        org.apache.spark.sql.graft.bridge.expression(text), n))

  /** Reference formulation of [[charShingles]] as interpreted HOF
    * expressions — kept as the executable spec (the DuckDB oracle twin
    * mirrors this shape). Only meaningful for `length(text) >= n`: below
    * that, `sequence(1, length-n+1)` counts DOWN and `substr` goes
    * end-relative.
    */
  def charShinglesHof(text: Column, n: Int = 3): Column =
    array_distinct(transform(sequence(lit(1), length(text) - (n - 1)),
      i => text.substr(i, lit(n))))

  /** Rolling-hash document fingerprint over the raw text. */
  def fingerprint(text: Column): Column = polyHash(text)

  /** Sequential rule-based scrubbing: each (pattern, replacement) applies a
    * global `regexp_replace` in order — order matters when patterns could
    * overlap (replace emails before bare-number rules, or the number rule
    * eats the mailbox). Patterns must stay in the Java∩RE2 common dialect
    * (character classes, bounded repeats, `\b`, `\d`) so an engine-twin
    * oracle sees identical semantics; lookarounds and backreferences are
    * Java-only and would silently diverge.
    */
  def redact(text: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(text) { case (c, (pat, repl)) => regexp_replace(c, pat, repl) }

  /** Canonical bag-of-words fingerprint: sorted distinct tokens re-joined.
    * Two documents that differ only in word order/repetition collide —
    * the normalization key for near-exact dedup.
    */
  def bagOfWordsKey(text: Column): Column =
    concat_ws(" ", sort_array(array_distinct(tokens(text))))

  /** Edge punctuation stripped from tokens by [[blocklistHits]]'s
    * normalization — a fixed ASCII set so Spark's `trim(col, chars)` and
    * DuckDB's `trim(s, chars)` see literally the same character class.
    */
  val EdgePunct = ".,;:!?'\"()[]{}"

  /** Count of DISTINCT blocklist terms present among the document's
    * whitespace tokens — the curation blocklist screen (NSFW/spam/keyword
    * filters à la RefinedWeb/C4's word filters). TOKEN-level equality, not
    * substring containment: "class" never trips a "lass" entry, and the
    * semantics are engine-exact (`array_intersect` ↔ `list_intersect`).
    *
    * With `normalize` (the default, matching the cited filters' semantics):
    * tokens are lower-cased and stripped of EDGE punctuation
    * ([[EdgePunct]]), so "NSFW" and "word." match blocklist entries "nsfw"
    * and "word"; INTERIOR punctuation is preserved ("e.g" stays distinct
    * from "eg"). Terms are lower-cased to match but NOT stripped — the
    * blocklist is caller-canonical. `normalize = false` keeps the raw
    * exact-token semantics.
    *
    * One per-row pass; the term list is a plan-time literal array — at any
    * realistic blocklist size this stays a row-local expression, no join.
    */
  def blocklistHits(text: Column, terms: Seq[String],
      normalize: Boolean = true): Column = {
    val toks =
      if (normalize) transform(tokens(text), t => trim(lower(t), EdgePunct))
      else tokens(text)
    val canon =
      if (normalize) terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      else terms
    size(array_intersect(array_distinct(toks), array(canon.map(lit): _*)))
  }

  /** Compiled Jaro–Winkler similarity ([[graft.functions.JaroWinkler]]) —
    * the record-linkage fuzzy-match scalar, bit-matched to DuckDB's
    * `jaro_winkler_similarity`.
    */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.JaroWinkler(
        org.apache.spark.sql.graft.bridge.expression(a),
        org.apache.spark.sql.graft.bridge.expression(b)))
}
