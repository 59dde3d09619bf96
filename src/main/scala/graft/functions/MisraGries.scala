package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items state: at most `k` (item → count) entries.
  * The classic stream summary (Misra & Gries '82, the "space-saving"
  * family): counting a resident item is free; a non-resident item either
  * takes a free slot or decrements EVERY resident count by one (dropping
  * zeros) — charging one occurrence of each resident item against the new
  * item's. Any item's stored count undercounts its true frequency by at
  * most n/(k+1), so every item with true frequency > n/(k+1) is GUARANTEED
  * resident, after any update order.
  *
  * The sketch's one owner ([[SketchBuffer]]): [[MisraGries]] and the stream
  * twin `EventStreams.mgCandidatesStream` read it out through
  * [[candidates]].
  */
final class MgBuffer(val k: Int) extends SketchBuffer[MgBuffer] {
  val counts: mutable.HashMap[String, Long] = mutable.HashMap.empty

  def add(item: String, c: Long): Unit = {
    val cur = counts.getOrElse(item, 0L)
    if (cur > 0L) counts.update(item, cur + c)
    else if (counts.size < k) counts.update(item, c)
    else {
      // Decrement all by min(c, smallest resident count taken to zero …)
      // — generalized batch decrement: subtracting d from everyone and
      // crediting (c − d) to the new item preserves the MG invariant for
      // any d ≤ c; we use the largest d that frees a slot if c covers it,
      // else d = c and the item is absorbed entirely.
      val d = math.min(c, counts.valuesIterator.min)
      shiftDown(d)
      if (c > d) add(item, c - d) // a slot is now free (or item resident)
    }
  }

  /** Subtract `d` from every resident count, dropping non-positives. */
  private def shiftDown(d: Long): Unit = {
    if (d > 0L) counts.filterInPlace((_, v) => v - d > 0L)
      .mapValuesInPlace((_, v) => v - d)
  }

  /** Sums counts over the union, then restores the ≤ k bound by
    * subtracting the (k+1)-largest combined count from everyone and
    * dropping non-positives (Agarwal et al., "Mergeable Summaries",
    * PODS'12 — errors add, the guarantee survives arbitrary merge trees).
    */
  override def merge(other: MgBuffer): MgBuffer = {
    other.counts.foreach { case (item, c) =>
      counts.update(item, counts.getOrElse(item, 0L) + c)
    }
    if (counts.size > k) {
      // (k+1)-largest count = the largest d whose subtraction leaves ≤ k.
      val sorted = counts.values.toArray
      java.util.Arrays.sort(sorted)
      shiftDown(sorted(sorted.length - (k + 1)))
    }
    this
  }

  override def encode(): Array[Byte] = {
    val entries = counts.toArray
    val bytes = entries.map { case (s, _) => s.getBytes(StandardCharsets.UTF_8) }
    val bb = ByteBuffer.allocate(4 + bytes.map(_.length + 12).sum)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      bb.putInt(bytes(i).length)
      bb.put(bytes(i))
      bb.putLong(entries(i)._2)
    }
    bb.array()
  }

  /** The resident (item, stored count) pairs, sorted by item. */
  def candidates: Array[(String, Long)] = counts.toArray.sortBy(_._1)
}

object MgBuffer extends SketchCodec[MgBuffer] {
  override def empty(k: Int): MgBuffer = new MgBuffer(k)

  override def decode(k: Int, bytes: Array[Byte]): MgBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new MgBuffer(k)
    var i = 0
    while (i < n) {
      val arr = new Array[Byte](bb.getInt)
      bb.get(arr)
      buf.counts.update(new String(arr, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    buf
  }
}

/** Misra–Gries heavy-hitters sketch over a STRING column: returns the ≤ `k`
  * candidate items, sorted, that can have true frequency > n/(k+1) — the
  * bounded-state first pass of the canonical two-pass exact heavy-hitters
  * pipeline (MG candidates, then an exact count of just the candidates;
  * see `CorpusOps.heavyHitters`). The candidate SET depends on merge order
  * only for items near the error bound; the GUARANTEE — candidates ⊇ every
  * item with frequency > n/(k+1) — holds for every order, which is what
  * the exact second pass needs and what the property spec pins.
  *
  * Insert, the mergeable-summaries merge ([[MgBuffer.merge]]) and encoding
  * are [[MgBuffer]]'s; the output is the items of its
  * [[MgBuffer.candidates]] readout.
  *
  * Scale posture: O(k) state per group, map-side-merged partials — the
  * 100 TB shape for "what are the frequent tokens": one bounded summary
  * per partition crosses the wire, never the vocabulary.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAggregate[MgBuffer](MgBuffer) {
  require(k >= 1, s"MisraGries needs k >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_misra_gries"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_misra_gries expects a STRING column, got ${other.catalogString}")
  }

  // .toString copies out of the unsafe row — the buffer must own its keys.
  override protected def insert(buf: MgBuffer, a: Any, b: Any): Unit =
    buf.add(a.asInstanceOf[UTF8String].toString, 1L)

  override def eval(buf: MgBuffer): Any =
    new GenericArrayData(buf.candidates.map(c => UTF8String.fromString(c._1): Any))

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGries =
    copy(child = newChildren.head)
}
