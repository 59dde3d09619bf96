package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.meta.IndexTables

/** [[IndexTables]] is the one index-table convention: the catalog bucket
  * spec and the `graft.*` properties follow a table through append and
  * rewrite, and no other main-source file writes or describes a catalog
  * table itself.
  */
class IndexTablesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def files(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  test("bucket spec and graft properties survive append and rewrite; " +
      "overwrite starts clean") {
    val t = "index_tables_spec"
    dropTables(t)
    try {
      IndexTables.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, Seq("k"), 4)
      IndexTables.setProperties(spark, t, Map("width" -> "7"))
      assert(IndexTables.intProperty(spark, t, "width") === 7)
      IndexTables.append(Seq((3L, "c")).toDF("k", "v"), t)
      val (_, after) = IndexTables.rewrite(spark, t)(_.filter($"k" =!= 2L))
      assert(after <= 4)
      assert(spark.table(t).as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (3L, "c")))
      assert(IndexTables.bucketSpec(spark, t).exists(s =>
        s.numBuckets == 4 && s.bucketColumnNames == Seq("k") &&
          s.sortColumnNames == Seq("k")))
      assert(IndexTables.properties(spark, t) === Map("width" -> "7"))
      IndexTables.overwrite(Seq((4L, "d")).toDF("k", "v"), t, Seq("k"), 4)
      assert(IndexTables.properties(spark, t).isEmpty)
      intercept[IllegalArgumentException](IndexTables.intProperty(spark, t, "width"))
      intercept[IllegalArgumentException](
        IndexTables.setProperties(spark, t, Map("width" -> "7')")))
    } finally dropTables(t)
  }

  test("convention guard: only meta/IndexTables.scala writes or describes " +
      "catalog tables in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val call = ("saveAsTable|bucketBy|getTableMetadata|parseTableIdentifier|" +
      "TBLPROPERTIES|_meta\"").r
    val offenders = for {
      f <- files(root) if f.toString.endsWith(".scala")
      if f != root.resolve("graft/meta/IndexTables.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
