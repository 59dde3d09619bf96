package graft.tools

import java.nio.file.{Files, Paths}

/** Dev-loop plan dumper: `runMain graft.tools.ExplainPlan <sfDir> <outDir>
  * <query ...>` writes each declared query's `.explain("formatted")` output
  * to `<outDir>/<query>.txt`. Runs under [[Harness.session]], the bench's
  * conf, so the dumped plans (AQE initial plans) are the ones the bench
  * executes at the same core count.
  *
  * Dumps stay complete past checkpoint boundaries: a `localCheckpoint`
  * truncates `.explain` at the materialized frame, so this tool arms
  * [[graft.meta.Ckpt]]'s capture hook, which records every lazily
  * checkpointed child's own `QueryExecution` as the query is built, and
  * appends each child's formatted plan to the same dump file
  * (`===== checkpointed child N =====` separators).
  */
object ExplainPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val spark = Harness.session()
    val drain = graft.meta.Ckpt.armCapture()
    names.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val children = drain().zipWithIndex.map { case ((label, qe), i) =>
        s"\n===== checkpointed child ${i + 1}" +
          (if (label.nonEmpty) s" ($label)" else "") + " =====\n" +
          qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      }
      Files.writeString(outDir.resolve(s"$q.txt"), plan + children.mkString)
      println(s"PLAN $q -> ${outDir.resolve(s"$q.txt")} " +
        s"(${children.length} checkpointed children)")
    }
    spark.stop()
  }
}
