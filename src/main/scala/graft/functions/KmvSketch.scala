package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded k-minimum-values state: the `n` smallest DISTINCT hash values
  * seen so far, sorted ascending in `mins(0 until n)`, `n <= k`. Insert and
  * membership are binary searches; a full buffer evicts its maximum. All
  * operations are set-based, so the state after any sequence of updates and
  * merges depends only on the SET of input values — partition-order
  * independent, which is what makes the sketch oracle-checkable.
  *
  * The sketch's one owner ([[SketchBuffer]]): [[KmvSketch]], [[KmvMinima]]
  * and the stream twin `EventStreams.kmvDistinctExact` read it out through
  * [[minima]] and [[kthAndEstimate]].
  */
final class KmvBuffer(val k: Int) extends SketchBuffer[KmvBuffer] {
  val mins = new Array[Long](k)
  var n = 0

  def insert(h: Long): Unit = {
    if (n == k && h >= mins(n - 1)) return
    val at = java.util.Arrays.binarySearch(mins, 0, n, h)
    if (at >= 0) return // already present — a SET of hashes
    val ins = -(at + 1)
    val last = if (n == k) k - 1 else n
    var i = last
    while (i > ins) { mins(i) = mins(i - 1); i -= 1 }
    mins(ins) = h
    if (n < k) n += 1
  }

  /** The bounded union: insert every minimum of `other`. */
  override def merge(other: KmvBuffer): KmvBuffer = {
    var i = 0
    while (i < other.n) { insert(other.mins(i)); i += 1 }
    this
  }

  override def encode(): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(mins(i)); i += 1 }
    bb.array()
  }

  /** The sketch itself: the `n` smallest distinct hashes, ascending. */
  def minima: Array[Long] = java.util.Arrays.copyOf(mins, n)

  /** (kth smallest hash, distinct estimate): under k distinct hashes the
    * sketch IS the value set (exact count); at k, Bar-Yossef's
    * (k−1)·range/h_(k) with both operands integer-exact in a double.
    */
  def kthAndEstimate(range: Long): (Long, Double) =
    if (n < k) (if (n == 0) 0L else mins(n - 1), n.toDouble)
    else (mins(k - 1), (k - 1).toDouble * range.toDouble / mins(k - 1).toDouble)
}

object KmvBuffer extends SketchCodec[KmvBuffer] {
  override def empty(k: Int): KmvBuffer = new KmvBuffer(k)

  override def decode(k: Int, bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new KmvBuffer(k)
    buf.n = bb.getInt
    var i = 0
    while (i < buf.n) { buf.mins(i) = bb.getLong; i += 1 }
    buf
  }
}

/** The one KMV aggregate body over a LONG hash column: [[KmvSketch]] and
  * [[KmvMinima]] differ only in their output type and readout.
  */
abstract class KmvAggregate extends SketchAggregate[KmvBuffer](KmvBuffer) {
  def child: Expression
  require(k >= 2, s"KMV needs k >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a BIGINT hash column, got ${other.catalogString}")
  }

  override protected def insert(buf: KmvBuffer, a: Any, b: Any): Unit =
    buf.insert(a.asInstanceOf[Long])
}

/** KMV (k-minimum-values / bottom-k) distinct-count sketch over a LONG hash
  * column — the deterministic alternative to HyperLogLog for engine
  * cross-checking: the k smallest distinct hashes are a pure function of
  * the input SET, so the sketch (and its estimate) is bit-reproducible in
  * any engine that can sort, unlike HLL's implementation-defined registers
  * (`approx_count_distinct` can never be oracle-gated).
  *
  * Estimate (Bar-Yossef et al. '02): with hashes uniform on [0, `range`),
  * `D̂ = (k−1) · range / h_(k)`; when fewer than k distinct hashes exist
  * the sketch IS the value set and the count is exact. Both operands of the
  * division are integers exact in a double (range ≤ 2^60 would break that —
  * [[graft.operators.TextOps.polyHash]]'s range is `Prime` < 2^30), so the
  * estimate divides bit-identically across engines.
  *
  * Scale posture: O(k) state per group, O(log k) per row, and partial
  * buffers MERGE (a k-way bounded union) — map-side combine ships one
  * k-long sketch per (group, partition) instead of the value set, the
  * textbook distributed-distinct-count shape. Insert, merge and encoding
  * are [[KmvBuffer]]'s; the output is its [[KmvBuffer.kthAndEstimate]]
  * readout: `struct(n_min INT, kth_hash LONG, estimate DOUBLE)` — `n_min`
  * and `kth_hash` are integer-exact for the oracle, `estimate` the derived
  * headline number.
  *
  * @param child LONG hash column (hash upstream — keeps the sketch
  *              engine-agnostic and the uniformity contract explicit)
  * @param k     sketch size (≥ 2; 256 gives ~6% relative error)
  * @param range exclusive upper bound of the hash domain
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    range: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends KmvAggregate {
  require(range > 0 && range <= (1L << 52),
    s"range must fit a double exactly for the cross-engine estimate, got $range")

  override def prettyName: String = "graft_kmv_distinct"
  override def dataType: DataType = StructType(Seq(
    StructField("n_min", IntegerType, nullable = false),
    StructField("kth_hash", LongType, nullable = false),
    StructField("estimate", DoubleType, nullable = false)))

  override def eval(buf: KmvBuffer): Any = {
    val (kth, est) = buf.kthAndEstimate(range)
    InternalRow(buf.n, kth, est)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren.head)
}

/** The KMV sketch ITSELF — the k smallest distinct hashes, ascending — as an
  * ARRAY<BIGINT>, where [[KmvSketch]] returns only the derived scalar
  * summary. Materializing the value set is what makes sketches COMPOSABLE
  * under set algebra: two groups' minima arrays merge into a union sketch,
  * and their overlap estimates fall out with plain array functions
  * ([[graft.operators.Sketches.kmvOverlap]] — Beyer et al., SIGMOD'07).
  * Same [[KmvAggregate]] body and [[KmvBuffer]] state; the output is the
  * buffer's [[KmvBuffer.minima]] readout, a pure function of the input set,
  * so it stays oracle-gateable.
  */
case class KmvMinima(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends KmvAggregate {

  override def prettyName: String = "graft_kmv_minima"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def eval(buf: KmvBuffer): Any = new GenericArrayData(buf.minima)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMinima =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMinima =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvMinima =
    copy(child = newChildren.head)
}
