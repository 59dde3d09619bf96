package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ScaleJoins
import scala.jdk.CollectionConverters._

/** Z-order layout proofs on REAL parquet footers — not taken on faith from
  * the write API: after [[ScaleJoins.writeZOrdered]], a box query on both
  * interleaved columns must be able to skip several-fold more files than
  * under the same data sorted on x alone, because only z-order gives every
  * file tight min/max statistics on BOTH columns at once.
  */
class ZOrderSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (hand-computed cases)") {
    val got = Seq((5L, 3L), (0L, 0L), (7L, 0L), (0L, 7L), (15L, 15L))
      .toDF("x", "y")
      .select(ScaleJoins.zValue($"x", $"y", 4)).as[Long].collect().toSeq
    // x=101, y=011: z = (1<<0)+(1<<4) + (1<<1)+(1<<3) = 27
    assert(got == Seq(27L, 0L, 21L, 42L, 255L))
  }

  test("writeZOrdered rejects out-of-domain values with a clear message") {
    val dir = java.nio.file.Files.createTempDirectory("zreject").toString
    val err = intercept[Exception] {
      ScaleJoins.writeZOrdered(
        Seq((-1L, 3L)).toDF("x", "y"), dir, "x", "y", bits = 4)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(err).exists(m => m != null && m.contains("writeZOrdered")), err.toString)
  }

  /** Per-file (min, max) footer statistics of an INT64 column. */
  private def fileRanges(dir: String, column: String): Seq[(Long, Long)] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 0).toSeq
      .map { f =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try {
          val stats = rdr.getFooter.getBlocks.asScala.map { b =>
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == column)
              .getOrElse(fail(s"no column $column in footer of ${f.getName}"))
            val s = c.getStatistics
            (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
              s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
          }
          (stats.map(_._1).min, stats.map(_._2).max)
        } finally rdr.close()
      }
  }

  test("a box query touches several-fold fewer files under z-order than under an x-sort") {
    // THE claim of the layout, measured on real footers: count the files a
    // box-predicate reader cannot skip (stats-box intersects the query
    // box). The x-sorted control produces x-slabs — every slab crossing the
    // x-range qualifies no matter what y it holds; z-order produces
    // square-ish cells, so only the cells near the box survive
    // (~F·xfrac·yfrac + perimeter, vs the slab layout's F·xfrac).
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
    val zDir = java.nio.file.Files.createTempDirectory("zorder").toString
    val xDir = java.nio.file.Files.createTempDirectory("xsort").toString
    ScaleJoins.writeZOrdered(li, zDir, "l_partkey", "l_suppkey",
      bits = 15, rowsPerFile = 50L)
    li.repartitionByRange(col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.option("maxRecordsPerFile", 50L).mode("overwrite").parquet(xDir)

    val gx = li.agg(max($"l_partkey")).head().getLong(0)
    val gy = li.agg(max($"l_suppkey")).head().getLong(0)
    // A box covering ~20% of x and ~10% of y.
    val (x0, x1) = (gx / 5, gx * 2 / 5)
    val (y0, y1) = (gy / 10, gy / 5)
    def intersecting(dir: String): Int =
      fileRanges(dir, "l_partkey").zip(fileRanges(dir, "l_suppkey")).count {
        case ((fx0, fx1), (fy0, fy1)) =>
          fx0 <= x1 && x0 <= fx1 && fy0 <= y1 && y0 <= fy1
      }
    val nFiles = fileRanges(zDir, "l_partkey").length
    assert(nFiles >= 32, s"need enough files for the claim, got $nFiles")
    val (zHit, xHit) = (intersecting(zDir), intersecting(xDir))
    assert(zHit * 2 <= xHit,
      s"z-order should skip several-fold more files: z=$zHit vs x-sort=$xHit of $nFiles")
  }

  test("box predicates reach the staged scan as pushed filters") {
    val dir = java.nio.file.Files.createTempDirectory("zscan").toString
    ScaleJoins.writeZOrdered(
      spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select($"l_orderkey", $"l_partkey", $"l_suppkey"),
      dir, "l_partkey", "l_suppkey", bits = 15, rowsPerFile = 500L)
    val df = spark.read.parquet(dir)
      .filter($"l_partkey".between(100, 499) && $"l_suppkey".between(10, 39))
    val plan = df.queryExecution.executedPlan
    // The rendered string truncates the PushedFilters list, so assert the
    // full predicate set on the scan node itself.
    val scan = plan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail(s"no file scan in:\n$plan"))
    val pushed = scan.dataFilters.map(_.sql).mkString("; ")
    assert(plan.toString.contains("PushedFilters: [IsNotNull("), plan.toString)
    for (frag <- Seq("l_partkey", "l_suppkey", ">= 100", "<= 499", ">= 10", "<= 39"))
      assert(pushed.contains(frag), s"missing '$frag' in: $pushed")
  }
}
