package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static mirror the generated Java calls into (same pattern as
  * [[CharShinglesImpl]]).
  */
object WordShinglesImpl {

  /** Distinct word n-gram shingles of `s` under single-space tokenization —
    * one compiled pass over the UTF-8 bytes.
    *
    * Semantics contract (the interpreted twin is
    * `array_distinct(transform(sequence(1, size(w)-(n-1)), i ->
    * concat_ws(" ", w[i], …, w[i+n-1])))` over `w = split(s, " ")`, proved
    * element-identical in WordShinglesSpec): `split(s, " ")` cuts at EVERY
    * single space and KEEPS empty tokens, so consecutive tokens are
    * separated by exactly one space in the original text — which means a
    * shingle of n consecutive tokens re-joined with single spaces IS the
    * original byte range from the start of token i to the end of token
    * i+n-1. Each shingle is therefore a zero-copy slice of the parent byte
    * array (0x20 never occurs as a UTF-8 continuation byte, so a byte scan
    * finds exactly the code-point spaces). Fewer than n tokens yields the
    * empty array, matching the column form's `size(w) < n` guard.
    */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val numBytes = bytes.length
    // starts(t) = byte offset where token t begins; ends(t) = byte offset
    // one past its last byte. Token t spans [starts(t), spacePos_t) with the
    // final token ending at numBytes.
    var tokens = 1
    var i = 0
    while (i < numBytes) {
      if (bytes(i) == 0x20) tokens += 1
      i += 1
    }
    if (tokens < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](tokens)
    val ends = new Array[Int](tokens)
    starts(0) = 0
    var t = 0
    i = 0
    while (i < numBytes) {
      if (bytes(i) == 0x20) {
        ends(t) = i
        t += 1
        starts(t) = i + 1
      }
      i += 1
    }
    ends(t) = numBytes
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var p = 0
    while (p + n <= tokens) {
      val from = starts(p)
      seen.add(UTF8String.fromBytes(bytes, from, ends(p + n - 1) - from))
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen'd distinct word n-gram shingles. The higher-order formulation
  * (let-bound `split` + `transform(sequence…)` + per-position `concat_ws`
  * over `element_at`s) evaluates interpreted lambdas per shingle position
  * and materializes every token and every joined shingle as fresh strings;
  * this runs one compiled O(bytes) scan and emits zero-copy slices — the
  * shingling stage of the MinHash dedup path and its verification joins.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression with StringInput {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShinglesImpl.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordShinglesImpl.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}
