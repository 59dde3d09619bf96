package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

/** A bounded, mergeable sketch state ([[KmvBuffer]], [[HashSampleBuffer]],
  * [[MgBuffer]]): the one owner of its sketch's insert, merge, binary
  * encoding and readout. The batch aggregates ([[SketchAggregate]]) and the
  * stream twins in [[graft.streaming.EventStreams]] both go through it, so
  * one codec serves the shuffle partials and the state store.
  */
trait SketchBuffer[B <: SketchBuffer[B]] {
  /** Folds `other` into this buffer and returns this buffer. */
  def merge(other: B): B

  /** The state as bytes; [[SketchCodec.decode]] restores an equal buffer. */
  def encode(): Array[Byte]
}

/** Builds the buffers of one sketch kind (each buffer's companion). */
trait SketchCodec[B <: SketchBuffer[B]] extends Serializable {
  def empty(k: Int): B
  def decode(k: Int, bytes: Array[Byte]): B
}

/** The one `TypedImperativeAggregate` of the library: buffer creation, the
  * NULL-skipping update, merge and (de)serialization all go through the
  * sketch's buffer. A concrete sketch declares its children and input
  * check, `dataType`, how a row inserts, `eval` as a buffer readout, and
  * its `copy`-based `withNew*` methods.
  *
  * A row inserts only when every input is non-NULL; a group of NULLs
  * evaluates to the readout of the empty buffer.
  *
  * `Serializable` here, not only on the case classes: Java deserialization
  * runs the constructor of the first non-serializable superclass, which
  * must then take no arguments and check nothing.
  */
abstract class SketchAggregate[B <: SketchBuffer[B]](codec: SketchCodec[B])
    extends TypedImperativeAggregate[B] with Serializable {

  /** The sketch's size bound. */
  def k: Int

  /** Inserts one row's non-NULL input values: `a` from the first child,
    * `b` from the second (the first again for a one-input sketch).
    */
  protected def insert(buf: B, a: Any, b: Any): Unit

  @transient private lazy val inputs: Array[Expression] = children.toArray

  override def nullable: Boolean = false

  override def createAggregationBuffer(): B = codec.empty(k)

  override def update(buf: B, input: InternalRow): B = {
    val a = inputs(0).eval(input)
    val b = if (inputs.length > 1) inputs(1).eval(input) else a
    if (a != null && b != null) insert(buf, a, b)
    buf
  }

  override def merge(buf: B, other: B): B = buf.merge(other)

  override def serialize(buf: B): Array[Byte] = buf.encode()

  override def deserialize(bytes: Array[Byte]): B = codec.decode(k, bytes)
}
