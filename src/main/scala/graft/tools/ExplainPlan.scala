package graft.tools

import graft.meta.Ckpt
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dev-loop plan dumper: `runMain graft.tools.ExplainPlan <sfDir> <outDir>
  * <query ...>` writes each declared query's `.explain("formatted")` output
  * to `<outDir>/<query>.txt`. Runs under [[Harness.session]], the bench's
  * conf, so the dumped plans (AQE initial plans) are the ones the bench
  * executes at the same core count.
  *
  * Dumps stay complete past checkpoint boundaries: a checkpoint truncates
  * `.explain` at the materialized frame, so this tool builds each query
  * inside [[graft.meta.Ckpt.capturing]], which records every checkpointed
  * child's own `QueryExecution`, lazy or eager, and appends each child's
  * formatted plan to the same dump file (`===== checkpointed child N =====`
  * separators).
  */
object ExplainPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val spark = Harness.session()
    names.foreach { q =>
      val (plan, captured) = Ckpt.capturing {
        graft.SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(FormattedMode)
      }
      val children = captured.zipWithIndex.map { case (qe, i) =>
        s"\n===== checkpointed child ${i + 1} =====\n" + qe.explainString(FormattedMode)
      }
      Files.writeString(outDir.resolve(s"$q.txt"), plan + children.mkString)
      println(s"PLAN $q -> ${outDir.resolve(s"$q.txt")} " +
        s"(${children.length} checkpointed children)")
    }
    spark.stop()
  }
}
