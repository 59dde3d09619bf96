package graft

import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Harness

/** The one driver session and sentinel: the conf every driver and spec runs
  * under, and a sentinel plan that does not move with the core count.
  */
class HarnessSpec extends AnyFunSuite with SparkSpec {

  test("sentinel: one shuffle exchange over 32 range partitions on a 4-core session") {
    val plan = Harness.sentinelPlan(spark).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.map(_.outputPartitioning.numPartitions) === Seq(4))
    assert(plan.collect { case r: RangeExec => r.numSlices } === Seq(32))
    assert(Harness.sentinel(spark) > 0.0)
  }

  test("session carries the documented conf") {
    val s = Harness.session(cores = 4)
    assert(s.sparkContext.master === "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("SparkSpec's session is the harness session") {
    assert(SparkSpec.session eq Harness.session(cores = 4))
  }
}
