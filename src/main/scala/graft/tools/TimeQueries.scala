package graft.tools

/** Dev-loop single-query timer: `runMain graft.tools.TimeQueries <sfDir>
  * <reps> <query ...>` prints one `TIME <query> min=<s> rows=<n>` line per
  * query (min of `reps` runs) plus the contention sentinel. Runs under
  * [[Harness.session]], the bench's conf. A `main` rather than the sbt
  * console, whose REPL classloader cannot reflect the streaming gates'
  * case-class encoders.
  *
  * Heap size is part of the measurement: run via `sbt runMain` (or match
  * build.sbt's SPARK_DRIVER_MEM when invoking java directly). An oversized
  * heap turns the GC-heavy gates pathological under co-tenant memory
  * pressure, because a huge young generation page-faults fresh zeroed pages
  * through an already-pressured box.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = Harness.session()
    Harness.sentinel(spark) // warm-up
    println(f"SENTINEL min=${Seq(Harness.sentinel(spark), Harness.sentinel(spark)).min}%.3f")
    names.foreach { q =>
      // A sentinel draw right before each query tags ITS wall-clock window
      // with the box's noise level, and the per-rep times are printed so a
      // bimodal contended min is visible.
      val sq = Harness.sentinel(spark)
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, sfDir).collect().length
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val repsStr = runs.map(r => f"${r._1}%.2f").mkString(",")
      println(f"TIME $q%s min=${runs.map(_._1).min}%.2f reps=[$repsStr] " +
        f"sentinel=$sq%.3f rows=${runs.head._2}%d")
    }
    spark.stop()
  }
}
