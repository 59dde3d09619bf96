package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static mirror the generated Java calls into (same pattern as
  * [[CharShinglesImpl]]).
  */
object PackedShinglesImpl {

  /** Distinct character n-grams of `s`, each packed LOSSLESSLY into one
    * long: the n consecutive code points, 21 bits each (Unicode tops out at
    * U+10FFFF = 21 bits), so n ≤ 3 fills at most bits 0–62 and never touches
    * the sign bit. For VALID UTF-8 (Spark's string contract) the packing is
    * a bijection from n-gram strings to longs — two shingles collide iff
    * they are the same string — so set cardinalities, document frequencies,
    * overlap counts and Jaccard values computed on the packed longs are
    * IDENTICAL to the string formulation ([[CharShinglesImpl.shingles]]),
    * while every downstream operator (explode, hash aggregate, equi-join,
    * array_intersect) runs on primitive longs instead of variable-length
    * UTF8Strings. Proved element-bijective in PackedShinglesSpec.
    *
    * Code points are decoded straight off the UTF-8 bytes (no intermediate
    * java.lang.String); `length(s) < n` returns the empty array, as the
    * string form does.
    */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val numBytes = bytes.length
    // Decode one code point per position; cps(i) = value, one entry per
    // code point in order.
    val cps = new Array[Int](numBytes)
    var chars = 0
    var i = 0
    while (i < numBytes) {
      val b0 = bytes(i)
      val len = UTF8String.numBytesForFirstByte(b0)
      var cp = 0
      if (len == 1) cp = b0 & 0x7f
      else {
        cp = b0 & (0x7f >> len)
        var k = 1
        while (k < len && i + k < numBytes) {
          cp = (cp << 6) | (bytes(i + k) & 0x3f)
          k += 1
        }
      }
      cps(chars) = cp
      chars += 1
      i += len
    }
    if (chars < n) return new GenericArrayData(Array.empty[Any])
    // LinkedHashSet = dedup in first-occurrence order (the array_distinct
    // contract the string form follows), deterministic output order.
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var p = 0
    while (p + n <= chars) {
      var code = 0L
      var k = 0
      while (k < n) {
        code = (code << 21) | cps(p + k)
        k += 1
      }
      seen.add(code)
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen'd packed character n-grams: [[CharShingles]] with ARRAY<LONG>
  * output via the bijective 21-bit-per-code-point packing (n ≤ 3 — four code
  * points would need 84 bits). Use where the shingles feed joins/aggregates
  * that only ever compare or count them (set-similarity joins, MinHash
  * shingling): long equi-join keys hash and compare in a couple of
  * instructions and an 8-byte fixed slot, where UTF8String keys pay
  * length-prefixed byte comparisons and per-row heap churn on every
  * exchange, aggregate and intersection.
  */
case class PackedShingles(child: Expression, n: Int) extends UnaryExpression with StringInput {
  require(n >= 1 && n <= 3, s"packed shingle width must be in [1, 3], got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_packed_shingles"

  override protected def nullSafeEval(input: Any): Any =
    PackedShinglesImpl.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PackedShinglesImpl.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): PackedShingles =
    copy(child = newChild)
}
