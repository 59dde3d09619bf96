package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static mirror the generated Java calls into (same pattern as
  * [[PolyHashImpl]]).
  */
object TokenHashesImpl {
  import PolyHashImpl.Prime

  /** Per-token polynomial hashes of `s` under single-space tokenization
    * (`split(s, " ")` semantics — empty tokens kept, so `""` yields `[0]`),
    * one compiled pass: token boundaries from a byte scan (0x20 never
    * occurs as a UTF-8 continuation byte), each token hashed over its
    * decoded code points — `toString`+`codePointAt` like [[PolyHashImpl]],
    * so values are bit-identical to `transform(split(s, " "),
    * t -> polyHash(t))` (proved in TokenHashesSpec).
    *
    * `wide = false`: base-31 hash per token ([[graft.operators.TextOps
    * .polyHash]]). `wide = true`: `h31 + h131 · 2^30` per token
    * ([[graft.operators.TextOps.wideHash]], 60 informative bits), both
    * folds in the same loop over each token.
    */
  def hashes(s: UTF8String, wide: Boolean): ArrayData = {
    // One String materialization for the whole text (not one per token):
    // the fold consumes code points, and toString applies the same invalid-
    // byte replacement PolyHashImpl relies on for bit-identical values.
    val str = s.toString
    val n = str.length
    val out = new java.util.ArrayList[Any]()
    var h31 = 0L
    var h131 = 0L
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      if (cp == 0x20) {
        out.add(if (wide) h31 + h131 * (1L << 30) else h31)
        h31 = 0L
        h131 = 0L
      } else {
        h31 = (h31 * 31L + cp) % Prime
        if (wide) h131 = (h131 * 131L + cp) % Prime
      }
      i += Character.charCount(cp)
    }
    out.add(if (wide) h31 + h131 * (1L << 30) else h31)
    new GenericArrayData(out.toArray)
  }
}

/** Codegen'd per-token hashing: `transform(split(text, " "), t ->
  * polyHash(t))` evaluates an interpreted lambda per token and materializes
  * every token string; this emits the hash array in one compiled pass with
  * no per-token allocations — the signature stage of both SimHash paths.
  * `wide` selects the 60-bit two-base combination ([[graft.operators
  * .TextOps.wideHash]]).
  */
case class TokenHashes(child: Expression, wide: Boolean) extends UnaryExpression with StringInput {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TokenHashesImpl.hashes(input.asInstanceOf[UTF8String], wide)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenHashesImpl.hashes($c, $wide)")

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}
