package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared implementation of distinct character n-gram extraction — a single
  * compiled pass over the string's UTF-8 bytes. A top-level object so the
  * codegen'd Java can call it through the static mirror
  * `graft.functions.CharShinglesImpl` (same pattern as [[PolyHashImpl]]).
  *
  * Iteration is by CODEPOINT (one offset per Unicode code point, shingle =
  * the byte range spanning `n` consecutive code points), exactly matching
  * `substr(s, i, n)` semantics, so the output is element-for-element
  * identical to the higher-order formulation
  * `array_distinct(transform(sequence(1, length(s)-(n-1)), i -> substr(s, i, n)))`
  * whenever `length(s) >= n` (proved in CharShinglesSpec). For
  * `length(s) < n` this returns the empty array — the sensible "no complete
  * shingle" answer — where the HOF's descending `sequence(1, length-n+1)`
  * produces end-relative `substr` garbage; callers (q_ngram_jaccard) filter
  * those rows out either way.
  */
object CharShinglesImpl {

  def shingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val numBytes = bytes.length
    // One offset per code point, plus the terminal offset: offs(i) is the
    // byte position where code point i starts.
    val offs = new Array[Int](numBytes + 1)
    var chars = 0
    var i = 0
    while (i < numBytes) {
      offs(chars) = i
      chars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(chars) = numBytes
    if (chars < n) return new GenericArrayData(Array.empty[Any])
    // LinkedHashSet = dedup in first-occurrence order, the array_distinct
    // contract. Shingles share the parent byte array (fromBytes is
    // zero-copy), so peak allocation is one small UTF8String header each.
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var p = 0
    while (p + n <= chars) {
      val start = offs(p)
      seen.add(UTF8String.fromBytes(bytes, start, offs(p + n) - start))
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen'd Catalyst expression for distinct character n-grams.
  *
  * The higher-order formulation (`transform(sequence(...), i -> substr(s, i,
  * n))` then `array_distinct`) evaluates one interpreted lambda per POSITION
  * — HOF bodies never reach whole-stage codegen — and each `substr` re-seeks
  * the string from byte 0, an O(len²) scan that made trigram shingling the
  * dominant cost of `q_ngram_jaccard` (same interpreter-tax class PolyHash
  * and NearestCentroid eliminated for hashing and IVF). This expression runs
  * one compiled O(len) pass and keeps its operator inside WholeStageCodegen.
  *
  * Reference behavior target: the n-gram tokenization feeding the set-
  * similarity dedup family (SURVEY §2; DuckDB oracle twin in
  * SparkEntry.oracleSql builds the same trigram set with a lateral
  * `generate_series`/`substr`).
  */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression with StringInput {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_shingles"

  override protected def nullSafeEval(input: Any): Any =
    CharShinglesImpl.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharShinglesImpl.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}
