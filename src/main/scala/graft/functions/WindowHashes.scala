package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared implementation of fused distinct-window wide-hashing: the 60-bit
  * [[graft.operators.TextOps.wideHash]] of every distinct `n`-codepoint
  * character window of a string, in first-occurrence order — one compiled
  * Rabin–Karp pass. A top-level object so the codegen'd Java can call it
  * through the static mirror `graft.functions.WindowHashesImpl` (the
  * [[PolyHashImpl]] pattern).
  *
  * Semantics target (the interpreted twin pinned in WindowHashesSpec):
  * `transform(charShingles(text, n), w -> wideHash(w))` — i.e. both
  * polynomial hashes (`(h·base + codepoint) mod 1e9+7`, bases 31/131,
  * codepoint iteration) of each distinct window, packed `h31 + h131·2^30`.
  *
  * Two cost classes are removed at once: the per-window interpreted HOF
  * lambda (never reaches whole-stage codegen), and the O(n) re-fold per
  * window — both hashes roll in O(1) per position
  * (`h' = (h − c_out·base^{n−1})·base + c_in mod p`, exact because
  * c_out·base^{n−1} mod p < 2^50 stays far under 2^63), so a document costs
  * O(len) instead of O(len·n) interpreter steps.
  *
  * One deliberate delta from the twin: windows are deduplicated by their
  * 60-bit hash VALUE, not by string — the two differ only when two distinct
  * windows of one document collide in all 60 bits (≈ len²·2^-61 per doc;
  * the same collision class the window-join consumers already accept
  * across documents).
  */
object WindowHashesImpl {
  private val P = 1000000007L

  def hashes(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    // Codepoint array — `ascii(substr(s, i, 1))` iteration semantics.
    val cps = new Array[Int](str.length)
    var count = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(count) = cp
      count += 1
      i += Character.charCount(cp)
    }
    if (count < n) return new GenericArrayData(Array.empty[Any])
    var pow31 = 1L
    var pow131 = 1L
    var k = 0
    while (k < n - 1) { pow31 = pow31 * 31L % P; pow131 = pow131 * 131L % P; k += 1 }
    // First window: plain left folds.
    var h31 = 0L
    var h131 = 0L
    var j = 0
    while (j < n) {
      val c = cps(j)
      h31 = (h31 * 31L + c) % P
      h131 = (h131 * 131L + c) % P
      j += 1
    }
    // LinkedHashSet = dedup in first-occurrence order (the array_distinct
    // contract of charShingles, transported through the hash).
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    seen.add(h31 + (h131 << 30))
    var w = 1
    while (w + n <= count) {
      val cOut = cps(w - 1)
      val cIn = cps(w + n - 1)
      h31 = ((h31 - cOut * pow31 % P + P) % P * 31L + cIn) % P
      h131 = ((h131 - cOut * pow131 % P + P) % P * 131L + cIn) % P
      seen.add(h31 + (h131 << 30))
      w += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var q = 0
    while (it.hasNext) { out(q) = it.next().longValue(); q += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen'd Catalyst expression for fused window wide-hashing — the shared
  * shingle→hash core of [[graft.operators.CorpusOps.sharedWindowOverlap]]
  * (train-test contamination) and
  * [[graft.operators.CorpusOps.windowDuplication]] (corpus-health profile),
  * whose `transform(charShingles(…), wideHash)` formulation was the
  * dominant interpreted cost of both queries.
  */
case class WindowHashes(child: Expression, n: Int) extends UnaryExpression with StringInput {
  require(n >= 2, s"window width must be >= 2, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WindowHashesImpl.hashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WindowHashesImpl.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}
