package graft

import org.apache.spark.CheckpointDirBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.meta.IndexTables
import graft.tools.Harness

/** Shared local SparkSession for suites that need one. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with `dir` as the session's reliable checkpoint dir, so
    * every [[graft.meta.Ckpt]] site checkpoints reliably, then restores the
    * previous setting, so later suites in the JVM keep local checkpoints.
    */
  def withCheckpointDir[A](dir: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try body finally CheckpointDirBridge.set(sc, prev)
  }

  /** Drops each table, then the warehouse dir a killed previous JVM may
    * have left for it (a fresh catalog cannot DROP such an orphan).
    */
  def dropTables(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    IndexTables.dropOrphanDir(spark, t)
  }
}

object SparkSpec {
  /** The drivers' session at a fixed 4 cores, whatever the machine has. */
  lazy val session: SparkSession = Harness.session(cores = 4)
}
