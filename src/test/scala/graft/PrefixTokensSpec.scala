package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DfPack, PrefixTokens}

/** Unit coverage for the row-local PPJoin prefix selection: rank order,
  * prefix length, per-block df isolation, degenerate inputs, invariant
  * violations. End-to-end equality of the packed path with brute force and
  * with the join-back is the long-token property in SetSimJoinSpec.
  */
class PrefixTokensSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // Block "a": df(10)=3, df(20)=1, df(30)=2; block "b": df(10)=1.
  private val pack = DfPack.pack(Iterator(
    (Seq("a"), 10L, 3L), (Seq("a"), 20L, 1L), (Seq("a"), 30L, 2L),
    (Seq("b"), 10L, 1L)))

  private def run(toks: Seq[Long], blk: String, tn: Int = 1, td: Int = 2): Seq[(Long, Int, Int)] =
    PrefixTokens(
      Seq(Literal.create(toks, ArrayType(LongType)), Literal(blk)), pack, tn, td)
      .eval(null).iterator.map(row => (row.getLong(0), row.getInt(1), row.getInt(2))).toSeq

  test("prefix is rare-first (df asc, tok asc) with 1-based ranks") {
    // m=3, t=1/2: prefixLen = 3 - ceil(1.5) + 1 = 2. Order: 20 (df1), 30
    // (df2), 10 (df3) -> prefix [20 rk1, 30 rk2].
    assert(run(Seq(10L, 20L, 30L), "a") === Seq((20L, 1, 3), (30L, 2, 3)))
    // input order must not matter
    assert(run(Seq(30L, 10L, 20L), "a") === Seq((20L, 1, 3), (30L, 2, 3)))
  }

  test("df is per block: the same token ranks differently in another block") {
    assert(run(Seq(10L), "b") === Seq((10L, 1, 1)))
  }

  test("t = 1 keeps a single prefix token; empty set yields empty prefix") {
    assert(run(Seq(10L, 20L, 30L), "a", 1, 1) === Seq((20L, 1, 3)))
    assert(run(Seq.empty, "a") === Seq.empty)
  }

  test("null tokens or null block value generate nothing (dropped rows, not bucket 0)") {
    val nullToks = PrefixTokens(
      Seq(Literal.create(null, ArrayType(LongType)), Literal("a")), pack, 1, 2).eval(null)
    assert(nullToks.iterator.isEmpty)
    val nullBlk = PrefixTokens(
      Seq(Literal.create(Seq(10L), ArrayType(LongType)),
        Literal.create(null, StringType)), pack, 1, 2).eval(null)
    assert(nullBlk.iterator.isEmpty)
  }

  test("missing block or token is an invariant violation, not silence") {
    val e1 = intercept[IllegalStateException](run(Seq(10L), "nope"))
    assert(e1.getMessage.contains("block"))
    val e2 = intercept[IllegalStateException](run(Seq(99L), "a"))
    assert(e2.getMessage.contains("token"))
  }

  test("codegen'd DataFrame path agrees with direct eval and stays compiled") {
    import org.apache.spark.sql.graft.bridge
    val df = Seq((1L, "a", Seq(10L, 20L, 30L)), (2L, "b", Seq(10L)))
      .toDF("id", "blk", "toks")
    val out = df.select($"id", bridge.column(PrefixTokens(
        Seq(bridge.expression($"toks"), bridge.expression($"blk")), pack, 1, 2))
      .as(Seq("tok", "rk", "sz")))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(got === Set((1L, 20L, 1, 3), (1L, 30L, 2, 3), (2L, 10L, 1, 1)))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("graft_prefix_tokens"))
    assert(p.contains("*(1)"), s"prefix selection fell out of codegen:\n$p")
  }

  test("content-based DfPack equality keeps canonicalization working") {
    val p2 = DfPack.pack(Iterator(
      (Seq("b"), 10L, 1L), (Seq("a"), 30L, 2L), (Seq("a"), 10L, 3L),
      (Seq("a"), 20L, 1L))) // same content, different order
    assert(pack === p2 && pack.hashCode === p2.hashCode)
    val p3 = DfPack.pack(Iterator((Seq("a"), 10L, 3L)))
    assert(pack !== p3)
    val mk = (p: DfPack) => PrefixTokens(
      Seq(Literal.create(Seq(10L), ArrayType(LongType)), Literal("a")), p, 1, 2)
    assert(mk(pack).semanticEquals(mk(p2)))
  }

  test("large random set: prefix matches a reference sort (exercises quicksort)") {
    val rng = new scala.util.Random(31)
    val toks = rng.shuffle((0L until 500L).toVector)
    val dfs = toks.map(t => t -> (1L + rng.nextInt(7))).toMap
    val bigPack = DfPack.pack(toks.iterator.map(t => (Seq("z"), t, dfs(t))))
    val m = toks.size
    val prefixLen = m - ((m * 3 + 4) / 5) + 1
    val expect = toks.sortBy(t => (dfs(t), t)).take(prefixLen).zipWithIndex
      .map { case (t, i) => (t, i + 1, m) }
    val got = PrefixTokens(
      Seq(Literal.create(toks, ArrayType(LongType)), Literal("z")), bigPack, 3, 5)
      .eval(null).iterator.map(row => (row.getLong(0), row.getInt(1), row.getInt(2))).toVector
    assert(got === expect)
  }
}
