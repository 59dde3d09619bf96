package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded bottom-k-BY-HASH sample state: the rows whose hash is among the
  * `n` smallest DISTINCT hash values seen so far, as parallel arrays
  * (`hashes` ascending, `vals(i)` the value carried by `hashes(i)`),
  * `n <= k`. The KMV eviction discipline ([[KmvBuffer]]) applied to
  * (hash, value) PAIRS: with a uniform hash over a per-row-distinct key this
  * is consistent bottom-k sampling (Cohen & Kaplan, PODS'07) — a uniform
  * k-row sample that is a pure FUNCTION of the input set, not of partition
  * or arrival order, which is what makes a sample-based estimator
  * oracle-gateable where `TABLESAMPLE`/`rand()` never is. Two rows carrying
  * the SAME hash (a collision, or a re-observed key) deterministically keep
  * the MINIMUM value, the order-free tie rule.
  *
  * The sketch's one owner ([[SketchBuffer]]): [[HashSampleValues]] and the
  * stream twin `EventStreams.hashSampleExact` read it out through
  * [[sortedValues]].
  */
final class HashSampleBuffer(val k: Int) extends SketchBuffer[HashSampleBuffer] {
  val hashes = new Array[Long](k)
  val vals = new Array[Long](k)
  var n = 0

  def insert(h: Long, v: Long): Unit = {
    if (n == k && h > hashes(n - 1)) return
    val at = java.util.Arrays.binarySearch(hashes, 0, n, h)
    if (at >= 0) { // same hash — keep the minimum value, order-free
      if (v < vals(at)) vals(at) = v
      return
    }
    val ins = -(at + 1)
    val last = if (n == k) k - 1 else n
    var i = last
    while (i > ins) { hashes(i) = hashes(i - 1); vals(i) = vals(i - 1); i -= 1 }
    hashes(ins) = h
    vals(ins) = v
    if (n < k) n += 1
  }

  /** The bounded pairwise union: insert every pair of `other`. */
  override def merge(other: HashSampleBuffer): HashSampleBuffer = {
    var i = 0
    while (i < other.n) { insert(other.hashes(i), other.vals(i)); i += 1 }
    this
  }

  override def encode(): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(hashes(i)); bb.putLong(vals(i)); i += 1 }
    bb.array()
  }

  /** The sampled values, sorted ASCENDING (the hash order that selected
    * them is sampling machinery, not signal — positional quantile reads
    * need the value order).
    */
  def sortedValues: Array[Long] = {
    val out = java.util.Arrays.copyOf(vals, n)
    java.util.Arrays.sort(out)
    out
  }
}

object HashSampleBuffer extends SketchCodec[HashSampleBuffer] {
  override def empty(k: Int): HashSampleBuffer = new HashSampleBuffer(k)

  override def decode(k: Int, bytes: Array[Byte]): HashSampleBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new HashSampleBuffer(k)
    buf.n = bb.getInt
    var i = 0
    while (i < buf.n) { buf.hashes(i) = bb.getLong; buf.vals(i) = bb.getLong; i += 1 }
    buf
  }
}

/** Deterministic uniform k-row sample of a BIGINT value column, keyed by a
  * BIGINT hash column — the approximate-QUANTILE companion to the KMV
  * distinct sketch: where `approx_percentile`'s internal summary is
  * engine-defined (never oracle-gateable), the bottom-k-by-hash sample is a
  * pure function of the input (hash, value) set, so the sample — and any
  * quantile read from it — is bit-reproducible in any engine that can sort.
  * Returns the sampled VALUES sorted ascending as ARRAY<BIGINT>; read
  * quantiles positionally ([[graft.operators.Sketches.sampleQuantiles]]).
  *
  * Estimator contract: hash a UNIQUE per-row key upstream
  * ([[graft.operators.TextOps.polyHash]]) so every row competes
  * independently; the k smallest hashes then select k rows uniformly and
  * the sample's empirical quantiles estimate the data quantiles with the
  * usual √k error. Duplicate hashes keep the minimum value (deterministic;
  * collisions under a ~2^30 hash range are rare enough not to bias the
  * estimate and the rule keeps the state a set function).
  *
  * Scale posture: O(k) state per group, O(log k) per row, partial buffers
  * MERGE (bounded pairwise union) — map-side combine ships one k-pair
  * sample per (group, partition) instead of the value column, the
  * distributed-quantile shape that never sorts or shuffles the data itself.
  * Insert, merge and encoding are [[HashSampleBuffer]]'s; the output is its
  * [[HashSampleBuffer.sortedValues]] readout.
  */
case class HashSampleValues(
    hashChild: Expression,
    valueChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAggregate[HashSampleBuffer](HashSampleBuffer) {
  require(k >= 2, s"hash sample needs k >= 2, got $k")

  override def children: Seq[Expression] = Seq(hashChild, valueChild)
  override def prettyName: String = "graft_hash_sample"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (hashChild.dataType, valueChild.dataType) match {
      case (LongType | NullType, LongType | NullType) =>
        TypeCheckResult.TypeCheckSuccess
      case (h, v) => TypeCheckResult.TypeCheckFailure(
        s"graft_hash_sample expects BIGINT hash and value columns, got " +
          s"${h.catalogString}, ${v.catalogString}")
    }

  override protected def insert(buf: HashSampleBuffer, h: Any, v: Any): Unit =
    buf.insert(h.asInstanceOf[Long], v.asInstanceOf[Long])

  override def eval(buf: HashSampleBuffer): Any = new GenericArrayData(buf.sortedValues)

  override def withNewMutableAggBufferOffset(newOffset: Int): HashSampleValues =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HashSampleValues =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HashSampleValues =
    copy(hashChild = newChildren(0), valueChild = newChildren(1))
}
