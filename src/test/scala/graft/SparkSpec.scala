package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Harness

/** Shared local SparkSession for suites that need one. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The drivers' session at a fixed 4 cores, whatever the machine has. */
  lazy val session: SparkSession = Harness.session(cores = 4)
}
