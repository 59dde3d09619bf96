package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types.{NullType, StringType}

/** The analysis-time input check of the one-STRING scalar kernels. Without
  * it a SQL call like `graft_poly_hash(42)` would pass resolution and die at
  * execution with a codegen/ClassCastException instead of a clear
  * AnalysisException. A NULL input is accepted: the kernel's result is
  * NULL, not an error.
  */
trait StringInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING argument, got ${other.catalogString}")
  }
}
