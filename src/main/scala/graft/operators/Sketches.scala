package graft.operators

import org.apache.spark.sql.Column

/** Sketch aggregates for cardinality work at 100 TB — bounded-state,
  * map-side-mergeable summaries where exact answers would shuffle the full
  * value set.
  *
  * Everything here is DETERMINISTIC by construction (a pure function of the
  * input value set), unlike `approx_count_distinct`'s HLL registers — which
  * is what lets each sketch carry a DuckDB oracle twin and a hash-exact
  * correctness gate.
  *
  * Each aggregate here is a [[graft.functions.SketchAggregate]] over one
  * sketch buffer ([[graft.functions.KmvBuffer]],
  * [[graft.functions.HashSampleBuffer]], [[graft.functions.MgBuffer]]) that
  * owns insert, merge, encoding and readout; the stream twins in
  * [[graft.streaming.EventStreams]] keep the same buffer's encoding as
  * their state and close through the same readout.
  */
object Sketches {

  /** KMV bottom-k distinct-count sketch of a LONG hash column: returns
    * `struct(n_min, kth_hash, estimate)` — see
    * [[graft.functions.KmvSketch]]. Pair with
    * [[TextOps.polyHash]] (uniform on [0, Prime)) and pass
    * `range = TextOps.Prime`.
    */
  def kmvDistinct(hash: Column, k: Int, range: Long = TextOps.Prime): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.KmvSketch(bridge.expression(hash), k, range)
      .toAggregateExpression())
  }

  /** The KMV sketch itself — k smallest distinct hashes, ascending
    * ARRAY<BIGINT> — for set-algebra composition ([[kmvOverlap]]); see
    * [[graft.functions.KmvMinima]].
    */
  def kmvMinima(hash: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.KmvMinima(bridge.expression(hash), k)
      .toAggregateExpression())
  }

  /** Union / intersection estimates of two [[kmvMinima]] sketches built
    * with the same `k` and hash (Beyer et al., SIGMOD'07): the merged
    * bottom-k is itself the union's KMV sketch, so the union estimate is
    * the usual `(k−1)·range/h_(k)`; the intersection scales that by the
    * fraction of union-sketch members present in BOTH input sketches.
    * When the merged sketch is unsaturated both inputs saw their full
    * value sets and every figure is exact. Deterministic throughout —
    * integer set ops plus one fixed double expression per estimate.
    *
    * Output: struct(n_union_min INT, union_kth LONG, est_union DOUBLE,
    * n_both INT, est_intersection DOUBLE).
    */
  def kmvOverlap(a: Column, b: Column, k: Int, range: Long = TextOps.Prime): Column = {
    import org.apache.spark.sql.functions._
    val unionK = slice(array_sort(array_union(a, b)), 1, k)
    val nU = size(unionK)
    val kthU = when(nU === 0, lit(0L)).otherwise(element_at(unionK, nU))
    val estU = when(nU < k, nU.cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(range.toDouble) / kthU.cast("double"))
    val nBoth = size(array_intersect(array_intersect(unionK, a), b))
    val estI = when(nU < k, nBoth.cast("double"))
      .otherwise(nBoth.cast("double") / lit(k.toDouble) * estU)
    struct(nU.as("n_union_min"), kthU.as("union_kth"), estU.as("est_union"),
      nBoth.as("n_both"), estI.as("est_intersection"))
  }

  /** Approximate quantiles from a DETERMINISTIC uniform k-row sample — the
    * oracle-gateable alternative to `approx_percentile`, whose internal
    * summary is engine-defined: the rows with the k smallest hashes of a
    * unique per-row key form a uniform sample that is a pure function of
    * the input set ([[graft.functions.HashSampleValues]], consistent
    * bottom-k sampling), and quantiles are read POSITIONALLY from the
    * sorted sample (nearest-rank: index ⌊(n−1)·p/100⌋). O(k) state,
    * map-side merged — the data column itself is never sorted or shuffled.
    *
    * Output: struct(n_sample INT, p<percent> BIGINT per requested percent).
    * Error is the usual sample-quantile √k bound; k = 256 lands within a
    * few percentile points. `hash` must be a BIGINT hash of a unique row
    * key ([[TextOps.polyHash]]); `value` BIGINT.
    */
  def sampleQuantiles(hashCol: Column, valueCol: Column, k: Int,
      percents: Seq[Int]): Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.bridge
    val sample = bridge.column(graft.functions.HashSampleValues(
      bridge.expression(hashCol), bridge.expression(valueCol), k)
      .toAggregateExpression())
    // One aggregate, positional reads over its (≤ k)-element result; the
    // (n−1)·p/100 index arithmetic is integer-exact on both engines.
    struct(size(sample).as("n_sample") +: sampleQuantileCols(sample, percents): _*)
  }

  /** Positional nearest-rank reads (`p<percent>` columns) over an ASCENDING
    * sample array — the ONE home of the rank convention, shared by
    * [[sampleQuantiles]] and the stream-sample gate so the two can never
    * drift. Guarded for the empty sample (all-null inputs): index 0 is
    * invalid for 1-based element_at, so an empty sample reads NULL
    * quantiles. For n ≥ 1 the nearest-rank index ⌊(n−1)p/100⌋+1 is in
    * [1, n] for any p ∈ [0, 100].
    */
  def sampleQuantileCols(sample: Column, percents: Seq[Int]): Seq[Column] = {
    import org.apache.spark.sql.functions._
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      s"percents must be in [0, 100], got $percents")
    percents.map { p =>
      when(size(sample) === 0, lit(null).cast("long"))
        .otherwise(element_at(sample,
          (floor(((size(sample) - 1) * p) / 100) + 1).cast("int")))
        .as(s"p$p")
    }
  }

  /** Misra–Gries frequent-items candidates of a STRING column: the ≤ `k`
    * items that can have frequency > n/(k+1), as a sorted array — see
    * [[graft.functions.MisraGries]]. Pair with an exact second pass over
    * just the candidates ([[CorpusOps.heavyHitters]]) for exact counts.
    */
  def mgCandidates(item: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.MisraGries(bridge.expression(item), k)
      .toAggregateExpression())
  }
}
