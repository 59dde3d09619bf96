package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.meta.Ckpt
import graft.operators.VectorOps

/** [[Ckpt]] is the one checkpoint convention: every site's fault posture
  * follows the session's checkpoint dir, capture is scoped to one call, and
  * no other main-source file materializes a frame itself.
  */
class CkptSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def files(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  test("posture: q_curation_e2e rows are identical under local and reliable checkpoints") {
    // q_curation_e2e checkpoints its post-funnel corpus eagerly, so the
    // reliable run writes files while the query is still being built.
    def rows() = SparkEntry.queries("q_curation_e2e")(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    val local = rows()
    val dir = Files.createTempDirectory("graft_ckpt_posture")
    val reliable = withCheckpointDir(dir.toString)(rows())
    assert(local.nonEmpty)
    assert(reliable === local)
    assert(files(dir).nonEmpty, "the reliable run must write under the checkpoint dir")
  }

  test("capturing: kmeans records one child per Lloyd iteration, then capture is off") {
    val pts = Seq(
      (0L, Seq(10.0f, 0.5f)), (1L, Seq(9.0f, -0.5f)),
      (2L, Seq(0.5f, 10.0f)), (3L, Seq(-0.5f, 9.0f))).toDF("vec_id", "embedding")
    val seeds = pts.filter($"vec_id".isin(0L, 2L))
    val (centroids, children) = Ckpt.capturing(
      VectorOps.kmeans(pts, seeds, "vec_id", "embedding", iters = 2))
    assert(children.length === 2)
    assert(centroids.count() === 2)
    // Capture does not nest, so entering it again proves the first call
    // turned it off; the second call sees none of the first call's frames.
    val (_, again) = Ckpt.capturing(())
    assert(again.isEmpty)
    intercept[IllegalArgumentException](Ckpt.capturing(Ckpt.capturing(())))
    // A failing body turns capture off too.
    intercept[IllegalStateException](Ckpt.capturing(throw new IllegalStateException("boom")))
    assert(Ckpt.capturing(())._2.isEmpty)
  }

  test("convention guard: only meta/Ckpt.scala materializes frames in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val call = "localCheckpoint\\(|\\.checkpoint\\(|getCheckpointDir".r
    val offenders = for {
      f <- files(root) if f.toString.endsWith(".scala")
      if f != root.resolve("graft/meta/Ckpt.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
