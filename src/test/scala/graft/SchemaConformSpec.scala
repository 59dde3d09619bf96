package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.schema.SchemaConform
import graft.types.PgTypeMapping

class SchemaConformSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("lowercases, prunes to target intersection, casts") {
    val df = Seq((1L, "a", 3.14, "drop-me")).toDF("ID", "Name", "Score", "Extra")
    val target = Map(
      "id" -> PgTypeMapping.toSparkType("bigint"),
      "name" -> PgTypeMapping.toSparkType("text"),
      "score" -> PgTypeMapping.toSparkType("numeric(6,2)"))
    val out = SchemaConform.conform(df, target)
    assert(out.columns.toSeq == Seq("id", "name", "score")) // df order, extra pruned
    assert(out.schema("score").dataType == DecimalType(6, 2))
    val row = out.collect().head
    assert(row.getLong(0) == 1L)
    assert(row.getDecimal(2) == new java.math.BigDecimal("3.14"))
  }

  test("empty intersection errors (reference contract)") {
    val df = Seq((1, 2)).toDF("x", "y")
    val ex = intercept[IllegalArgumentException](
      SchemaConform.conform(df, Map("z" -> IntegerType)))
    assert(ex.getMessage.contains("z"))
  }

  test("single Project node: conform collapses to one projection over the scan") {
    val df = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val target = Map(
      "l_orderkey" -> LongType,
      "l_quantity" -> DecimalType(12, 2))
    val plan = SchemaConform.conform(df, target).queryExecution.optimizedPlan
    val projects = plan.collect { case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }
    assert(projects.size == 1)
  }
}
