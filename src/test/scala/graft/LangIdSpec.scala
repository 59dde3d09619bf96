package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LangId

/** [[LangId]]'s Cavnar–Trenkle contract: gram extraction, rank-profile
  * determinism (count DESC, gram ASC), the out-of-place distance with the
  * missing-gram penalty, and prediction parity with a driver-side
  * reference on the fixture.
  */
class LangIdSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("charGrams: all positions, duplicates kept; short/empty guarded") {
    val got = Seq("abcd", "aaa", "ab", "").toDF("t")
      .select(LangId.charGrams($"t", 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("abc", "bcd"))
    assert(got(1) == Seq("aaa"))
    assert(got(2) == Seq.empty && got(3) == Seq.empty)
  }

  test("profiles: rank by (count desc, gram asc); topK truncates") {
    // lang x grams (n=2): "aaab" → aa,aa,ab; "abab" → ab,ba,ab
    //   counts: ab 3, aa 2, ba 1 → ranks ab=1, aa=2, ba=3
    // lang y: "cc" → cc (count 1); "cd" → cd (count 1) — tie: cc before cd
    val d = Seq(("x", "aaab"), ("x", "abab"), ("y", "cc"), ("y", "cd"))
      .toDF("lang", "text")
    val p = LangId.profiles(d, "text", "lang", gramLen = 2, topK = 2)
      .as[(String, String, Long)].collect().toSet
    assert(p == Set(("x", "ab", 1L), ("x", "aa", 2L),
      ("y", "cc", 1L), ("y", "cd", 2L)))
  }

  test("classify: out-of-place distance with missing-gram penalty, tie to smaller lang") {
    val train = Seq(("x", "ababab"), ("y", "cdcdcd")).toDF("lang", "text")
    val p = LangId.profiles(train, "text", "lang", gramLen = 2, topK = 4)
    // probe "abcd": grams ab,bc,cd — doc ranks ab=1,bc=2,cd=3 (all count 1,
    // gram asc). x profile (n=2 grams of ababab): ab×3,ba×2 → ab=1,ba=2.
    // dist(x) = |1−1| + 4 + 4 = 8; y profile: cd×3,dc×2 → cd=1,dc=2:
    // dist(y) = 4 + 4 + |3−1| = 10 → predict x with 8.
    val got = LangId.classify(Seq((7L, "abcd")).toDF("doc_id", "text"),
      "doc_id", "text", p, gramLen = 2, topK = 4)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((7L, "x", 8L)))
    // no-gram doc is absent
    assert(LangId.classify(Seq((8L, "z")).toDF("doc_id", "text"),
      "doc_id", "text", p, gramLen = 2, topK = 4).isEmpty)
  }

  test("classifyEmissions ≡ classify row-for-row (the stateless online twin)") {
    val trainDf = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"doc_id" % 4 =!= 3)
    val probeDf = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"doc_id" % 4 === 3)
    val p = LangId.profiles(trainDf, "text", "lang", gramLen = 3, topK = 64)
    val batch = LangId.classify(probeDf, "doc_id", "text", p,
        gramLen = 3, topK = 64)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val online = LangId.classifyEmissions(probeDf, "doc_id", "text", p,
        gramLen = 3, topK = 64)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(online == batch)
    // null text and too-short text emit nothing
    val edge = LangId.classifyEmissions(
      Seq((1L, Option.empty[String]), (2L, Some("ab"))).toDF("doc_id", "text"),
      "doc_id", "text", p, gramLen = 3, topK = 64)
    assert(edge.isEmpty)
  }

  test("classifyEmissions ≡ classify on supplementary-plane text " +
    "(code-point grams, r17 ADVICE)") {
    // Every emoji is one code POINT but two UTF-16 code units: a
    // code-unit gram loop would split surrogate pairs and diverge from
    // the batch substr path. (Grams here mix ASCII and supplementary
    // only — no U+E000..U+FFFF — so the documented tie-ORDER caveat
    // does not bite and the paths must agree exactly.)
    val train = Seq(
      ("😀😁😂😃😀😁😂😃😀😁", "emoji"),
      ("abcdabcdabcdabcd", "ascii")).toDF("text", "lang")
    val p = LangId.profiles(train, "text", "lang", gramLen = 3, topK = 32)
    val probe = Seq(
      (1L, "😀😁😂😃😀😁"), (2L, "abcdabcd"), (3L, "😀a😁b😂c"))
      .toDF("doc_id", "text")
    val batch = LangId.classify(probe, "doc_id", "text", p,
        gramLen = 3, topK = 32)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val online = LangId.classifyEmissions(probe, "doc_id", "text", p,
        gramLen = 3, topK = 32)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(batch.map(r => r._1 -> r._2).toMap.view.filterKeys(_ <= 2L).toMap ==
      Map(1L -> "emoji", 2L -> "ascii"), s"fixture sanity: $batch")
    assert(online == batch)
    // 2 code points (4 UTF-16 units) with gramLen 3: no grams on EITHER
    // path — the code-unit loop would have wrongly emitted here.
    val edge = LangId.classifyEmissions(
      Seq((9L, "😀😁")).toDF("doc_id", "text"),
      "doc_id", "text", p, gramLen = 3, topK = 32)
    assert(edge.isEmpty)
  }

  test("classify ≡ driver-side Cavnar–Trenkle reference on the fixture split") {
    val n = 3
    val k = 64
    val all = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    val train = all.filter(_._1 % 4 != 3)
    val probe = all.filter(_._1 % 4 == 3)
    def gramsOf(t: String) = (0 to t.length - n).map(i => t.substring(i, i + n))
    def rankTop(grams: Seq[String]): Map[String, Long] =
      grams.groupBy(identity).view.mapValues(_.length.toLong).toSeq
        .sortBy { case (g, c) => (-c, g) }.take(k)
        .zipWithIndex.map { case ((g, _), i) => g -> (i + 1L) }.toMap
    val prof = train.groupBy(_._2).view
      .mapValues(rows => rankTop(rows.toSeq.flatMap(r => gramsOf(r._3)))).toMap
    val trainDf = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"doc_id" % 4 =!= 3)
    val probeDf = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"doc_id" % 4 === 3)
    val p = LangId.profiles(trainDf, "text", "lang", gramLen = n, topK = k)
    val got = LangId.classify(probeDf, "doc_id", "text", p, gramLen = n, topK = k)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    probe.foreach { case (id, _, text) =>
      val dr = rankTop(gramsOf(text))
      val scored = prof.toSeq.map { case (lang, lp) =>
        val dist = dr.map { case (g, rd) =>
          lp.get(g).map(rl => (rd - rl).abs).getOrElse(k.toLong)
        }.sum
        (lang, dist)
      }
      val (lang, dist) = scored.minBy { case (l, s) => (s, l) }
      assert(got(id) == ((lang, dist)), s"doc $id")
    }
    assert(got.size == probe.length)
  }
}
