package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared implementation of the deterministic polynomial string hash
  * (`h_i = (h_{i-1}·base + codepoint_i) mod 1e9+7`, left fold, h_0 = 0) —
  * the cross-engine hash every fingerprint/MinHash/SimHash operator uses
  * (DuckDB twin: a `list_reduce` over `ascii(substr(...))`, see
  * [[graft.operators.TextOps]]). A top-level object so the codegen'd Java
  * can call it through the static mirror `graft.functions.PolyHashImpl`.
  */
object PolyHashImpl {
  val Prime = 1000000007L

  def hash(s: UTF8String, base: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * base + cp) % Prime
      i += Character.charCount(cp)
    }
    h
  }
}

/** Codegen'd Catalyst expression for the polynomial hash. The higher-order
  * `aggregate(charCodes(s), …)` formulation evaluates one interpreted lambda
  * per CHARACTER (HOF bodies never reach whole-stage codegen), which made
  * string hashing the dominant cost of every dedup pipeline; this expression
  * runs the same fold as one compiled JVM loop (~10× on fixture text) and
  * keeps its operator inside WholeStageCodegen.
  *
  * Iteration is by codepoint — exactly `ascii(substr(s, i, 1))` semantics,
  * so values are bit-identical to the HOF version and to the DuckDB oracle
  * (proved in TextOpsSpec).
  */
case class PolyHash(child: Expression, base: Long) extends UnaryExpression with StringInput {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_hash"

  override protected def nullSafeEval(input: Any): Any =
    PolyHashImpl.hash(input.asInstanceOf[UTF8String], base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHashImpl.hash($c, ${base}L)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}
