package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** String similarity joins under EDIT DISTANCE — the fuzzy-match class the
  * set-overlap machinery in [[SetSimJoin]] cannot express (Jaccard over
  * shingle SETS is blind to order and multiplicity; `kitten`→`sitting`-style
  * typo matching needs the real Levenshtein metric).
  *
  * [[editDistanceJoin]] finds all pairs within distance `d` without an
  * all-pairs stage, via positional q-gram COUNT FILTERING (Gravano et al.,
  * VLDB'01 — "Approximate string joins in a database (almost) for free"):
  * one edit operation destroys at most `q` of a string's positional q-grams,
  * so two strings with `ed(s,t) <= d` must share at least
  * `max(|s|,|t|) - q + 1 - q*d` positional q-grams whose positions differ by
  * at most `d`. Candidates therefore come from an EQUI-join of the exploded
  * q-gram index with itself (grams hashed to primitive longs), pruned by the
  * length filter `||s|-|t|| <= d`, the positional filter `|pos_a-pos_b| <= d`,
  * and the count threshold — exact `levenshtein` runs on survivors only.
  *
  * The count bound is positive only when `max(|s|,|t|) >= q*(d+1)`; strings
  * shorter than that can share ZERO q-grams with a true match, so they take
  * a separate SHORT-STRING path: every string of length `< q*(d+1) + d`
  * (anything pairable with a short string — lengths of a matching pair
  * differ by at most `d`) is length-bucketed at width `d+1` and probed
  * against buckets `{b-1, b, b+1}`, which covers all length differences
  * `<= d` and emits each ordered pair exactly once (the three probe values
  * are distinct, the build side holds one bucket per row — the same
  * emit-once bucket-index reasoning as [[TemporalJoins.intervalJoin]]).
  * Restricting the path to pairs with at least one short side keeps the two
  * candidate streams disjoint, so no pair-dedup stage exists anywhere.
  *
  * Scale shape: the q-gram self-join shuffles the exploded index ONCE (both
  * sides are the same exchange — ReuseExchange), candidate counting is one
  * hash aggregate keyed on the pair, and verification touches candidates
  * only. Work is Σ_g df(g)² over gram frequencies — ultra-frequent grams are
  * the known hot spot of the count-filter family; AQE splits those join
  * keys, and the documented escalation path at corpus scale is an Ed-Join
  * style rare-first PREFIX filter (the [[SetSimJoin]] df ranking,
  * with prefix length `q*d + 1`), which trades this operator's single-pass
  * simplicity for df bookkeeping. The short-string path is quadratic ONLY
  * within length buckets of width `d+1` over strings shorter than
  * `q*(d+1)+d` — a bounded, usually tiny slice of a real corpus.
  */
object StringJoins {

  /** All pairs `(id_i, id_j, dist)` with `id_i < id_j` and
    * `levenshtein(s_i, s_j) <= maxDist`, over `docs(idCol: numeric/any
    * orderable, strCol: STRING)`. Null strings never match. `q` is the gram
    * width of the count filter (3 is the standard default; larger q prunes
    * harder on long strings but raises the short-string cutoff `q*(d+1)`).
    */
  def editDistanceJoin(
      docs: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int,
      q: Int = 3): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val d = maxDist
    val longMin = q * (d + 1)        // count bound positive from this length
    val shortMax = longMin + d       // longest string pairable with a short one

    val strs = docs
      .filter(col(strCol).isNotNull)
      .select(col(idCol).as("ed_id"), col(strCol).as("ed_s"),
        length(col(strCol)).as("ed_len"))

    // ---- long×long candidates: positional q-gram count filter ------------
    // Positional grams (1-based start, gram hashed to a primitive long).
    // A hash collision can only ADD a candidate (verified away later), never
    // drop a true match — equal grams always hash equal.
    val grams = strs.filter(col("ed_len") >= longMin)
      .select(col("ed_id"), col("ed_len"),
        explode(transform(sequence(lit(1), col("ed_len") - (q - 1)),
          i => struct(i.as("pos"), xxhash64(col("ed_s").substr(i, lit(q))).as("gh"))))
          .as("g"))
      .select(col("ed_id"), col("ed_len"),
        col("g.pos").as("pos"), col("g.gh").as("gh"))

    val longCand = grams.as("a").join(grams.as("b"),
        col("a.gh") === col("b.gh") &&
          col("a.ed_id") < col("b.ed_id") &&
          abs(col("a.ed_len") - col("b.ed_len")) <= d &&
          abs(col("a.pos") - col("b.pos")) <= d)
      .groupBy(col("a.ed_id").as("id_i"), col("b.ed_id").as("id_j"),
        col("a.ed_len").as("len_i"), col("b.ed_len").as("len_j"))
      .agg(count(lit(1)).as("n_match"))
      // >= matching size of the theorem: the join count includes every
      // eligible gram pair, the bound needs only a matching — safe side.
      .filter(col("n_match") >= greatest(col("len_i"), col("len_j")) - (q - 1) - q * d)
      .select(col("id_i"), col("id_j"))

    // ---- pairs with a short side: length-bucketed band join --------------
    val small = strs.filter(col("ed_len") < shortMax)
      .select(col("ed_id"), col("ed_len"),
        floor(col("ed_len") / (d + 1)).as("bkt"))
    val probed = small.select(col("ed_id"), col("ed_len"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    val shortCand = probed.as("a").join(small.as("b"),
        col("a.bkt") === col("b.bkt") &&
          col("a.ed_id") < col("b.ed_id") &&
          abs(col("a.ed_len") - col("b.ed_len")) <= d &&
          (col("a.ed_len") < longMin || col("b.ed_len") < longMin))
      .select(col("a.ed_id").as("id_i"), col("b.ed_id").as("id_j"))

    // Streams are disjoint by construction (long×long vs at-least-one-short)
    // and each emits a pair at most once — plain union, no dedup shuffle.
    val cand = longCand.unionByName(shortCand)

    // ---- verify on candidates only ----------------------------------------
    cand
      .join(strs.select(col("ed_id").as("id_i"), col("ed_s").as("s_i")), "id_i")
      .join(strs.select(col("ed_id").as("id_j"), col("ed_s").as("s_j")), "id_j")
      .withColumn("dist", levenshtein(col("s_i"), col("s_j")).cast("long"))
      .filter(col("dist") <= d)
      .select(col("id_i"), col("id_j"), col("dist"))
  }
}
