package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static mirror the generated Java calls into (the [[PolyHashImpl]]
  * pattern).
  */
object TokenClassCountsImpl {
  /** Counts of the GPT-2-style pre-tokenizer's three token classes in one
    * compiled pass — maximal `[a-z]+` runs, maximal `[0-9]+` runs, and
    * single `[^a-z0-9 ]` marks — with ZERO allocation beyond the 3-field
    * result row. Bit-identical to
    * `(regexp_count(s,'[a-z]+'), regexp_count(s,'[0-9]+'),
    * regexp_count(s,'[^a-z0-9 ]'))`, which in turn equals the class counts
    * of `regexp_extract_all(s, '[a-z]+|[0-9]+|[^a-z0-9 ]')` because the
    * alternatives are disjoint and each matches maximal runs (pinned in
    * DeGcEquivalenceSpec). Java regex matches per CODE POINT, so the scan
    * advances by code point: any non-ASCII code point is one `other` mark,
    * exactly like the character class would match it.
    */
  def counts(s: UTF8String): InternalRow = {
    val str = s.toString
    val n = str.length
    var words = 0
    var digits = 0
    var other = 0
    // 0 = between tokens / space, 1 = in a letter run, 2 = in a digit run
    var state = 0
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      if (cp >= 'a' && cp <= 'z') {
        if (state != 1) { words += 1; state = 1 }
      } else if (cp >= '0' && cp <= '9') {
        if (state != 2) { digits += 1; state = 2 }
      } else if (cp == ' ') {
        state = 0
      } else {
        other += 1
        state = 0
      }
      i += Character.charCount(cp)
    }
    new GenericInternalRow(Array[Any](words, digits, other))
  }
}

/** Codegen'd token-class census for the q_token_classes gate: the old form
  * (`regexp_extract_all` + two `rlike` array filters) materialized every
  * token as a heap string three times over just to count classes — the r20
  * big-heap allocation profile; the first r21 rewrite (three
  * `regexp_count` passes) allocated nothing but paid three full regex
  * scans and measurably regressed the 8 g protocol. This expression does
  * the one thing actually required: a single compiled scan with three
  * counters.
  */
case class TokenClassCounts(child: Expression) extends UnaryExpression with StringInput {

  override def dataType: DataType = StructType(Seq(
    StructField("n_word", IntegerType, nullable = false),
    StructField("n_digit", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false)))
  override def prettyName: String = "graft_token_class_counts"

  override protected def nullSafeEval(input: Any): Any =
    TokenClassCountsImpl.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenClassCountsImpl.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenClassCounts =
    copy(child = newChild)
}
