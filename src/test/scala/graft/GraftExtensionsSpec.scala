package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftExtensions

/** SQL-frontend access to the custom Catalyst expression via
  * SparkSessionExtensions.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  // getOrCreate() reuses any active session and silently SKIPS extensions —
  // clear the active/default slots so a fresh session (over the same
  // SparkContext) is built with the extensions applied, then restore the
  // shared test session as default for later suites.
  private lazy val spark: SparkSession = {
    SparkSpec.session // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(SparkSpec.session)
    SparkSession.setActiveSession(SparkSpec.session)
    s
  }

  test("graft_poly_hash callable from SQL, default and explicit base") {
    val r = spark.sql(
      "SELECT graft_poly_hash('hello') AS h31, graft_poly_hash('hello', 31) AS h31b, " +
        "graft_poly_hash('hello', 131) AS h131, graft_poly_hash('') AS empty").head()
    assert(r.getLong(0) === 99162322L)
    assert(r.getLong(1) === 99162322L)
    assert(r.getLong(0) !== r.getLong(2))
    assert(r.getLong(3) === 0L)
  }

  test("graft_char_shingles callable from SQL, default and explicit width") {
    val r = spark.sql(
      "SELECT graft_char_shingles('abcabc') AS g3, " +
        "graft_char_shingles('abcabc', 2) AS g2").head()
    assert(r.getSeq[String](0) === Seq("abc", "bca", "cab"))
    assert(r.getSeq[String](1) === Seq("ab", "bc", "ca"))
  }

  test("bad arity is a clear error") {
    val e = intercept[Exception](spark.sql("SELECT graft_poly_hash()").head())
    assert(e.getMessage.toLowerCase.contains("graft_poly_hash"))
  }

  test("non-string argument fails analysis, not execution") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_poly_hash(42)").head())
    assert(e.getMessage.contains("STRING"))
  }

  test("one STRING-or-NULL check: each string kernel names itself; NULL passes") {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types.NullType
    import graft.functions._
    val kernels: Seq[(String, Expression => Expression)] = Seq(
      "graft_poly_hash" -> (PolyHash(_, 31L)),
      "graft_char_shingles" -> (CharShingles(_, 3)),
      "graft_word_shingles" -> (WordShingles(_, 2)),
      "graft_packed_shingles" -> (PackedShingles(_, 3)),
      "graft_token_hashes" -> (TokenHashes(_, wide = false)),
      "graft_window_hashes" -> (WindowHashes(_, 8)),
      "graft_token_class_counts" -> (TokenClassCounts(_)))
    kernels.foreach { case (name, mk) =>
      assert(mk(Literal(42)).checkInputDataTypes() ===
        TypeCheckFailure(s"$name expects a STRING argument, got int"))
      assert(mk(Literal(null, NullType)).checkInputDataTypes() === TypeCheckSuccess)
      assert(mk(Literal("a")).checkInputDataTypes() === TypeCheckSuccess)
    }
  }
}
