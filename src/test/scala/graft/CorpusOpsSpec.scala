package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CorpusOps, TextOps}

class CorpusOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("wordNgramsAll keeps duplicates in order; short docs yield empty") {
    val got = Seq("a b a b a", "a b", "a", "").toDF("text")
      .select(CorpusOps.wordNgramsAll($"text", 2)).as[Seq[String]].collect()
    assert(got(0) === Seq("a b", "b a", "a b", "b a"))
    assert(got(1) === Seq("a b"))
    assert(got(2) === Seq.empty)
    // "" splits to [""], one token < 2 — still empty
    assert(got(3) === Seq.empty)
  }

  test("qualityRules: hand-computed signals on a crafted doc; empty/null text") {
    val text = "- aaa bbb\n- aaa bbb\nccc ddd ccc ddd ccc ...\nxx"
    val d = Seq((1L, Some(text)), (2L, Some("")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = CorpusOps.qualityRules(d, "doc_id", "text", minWords = 1)
    val r = got.filter($"doc_id" === 1L).head()
    assert(r.getAs[Long]("n_lines") == 4L)
    assert(r.getAs[Long]("n_dup_lines") == 1L)       // "- aaa bbb" repeats
    assert(r.getAs[Long]("n_words") == 13L)
    assert(r.getAs[Long]("sum_word_chars") == 34L)
    // bigram counts: "- aaa"x2, "aaa bbb"x2, "ccc ddd"x2, "ddd ccc"x2,
    // "ccc ..."x1 — run-length tie goes to the lexicographically smallest
    assert(r.getAs[String]("top2_gram") == "- aaa")
    assert(r.getAs[Long]("top2_n") == 2L)
    assert(r.getAs[Long]("top2_chars") == 10L)
    assert(r.getAs[Long]("n_symbols") == 1L)          // one "..."
    assert(r.getAs[Long]("n_bullet_lines") == 2L)
    assert(r.getAs[Long]("n_ellipsis_lines") == 1L)
    assert(r.getAs[Double]("dup_line_frac") == 0.25)
    assert(r.getAs[Double]("mean_word_len") == 34.0 / 13.0)
    // mean word length 34/13 < 3 → drop despite minWords = 1
    assert(!r.getAs[Boolean]("keep"))
    val empty = got.filter($"doc_id" === 2L).head()
    assert(empty.getAs[Long]("n_lines") == 1L &&
      empty.getAs[Long]("n_words") == 0L &&
      empty.getAs[Any]("top2_gram") == null &&
      !empty.getAs[Boolean]("keep"))
    // NULL text reads as empty — same row shape, keep = false
    val nul = got.filter($"doc_id" === 3L).head()
    assert(nul.getAs[Long]("n_words") == 0L && !nul.getAs[Boolean]("keep"))
  }

  test("qualityRules ≡ driver-side reference on seeded adversarial texts " +
    "(multi-space, empty lines, bullets, ellipses, symbols)") {
    val rnd = new scala.util.Random(171717L)
    val words = Vector("a", "bb", "ccc", "dddd", "#tag", "eee", "x...y", "zz")
    def line(): String = {
      val base = Seq.fill(rnd.nextInt(6))(words(rnd.nextInt(words.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  ") // double spaces too
      val withBullet = if (rnd.nextInt(4) == 0) "- " + base else base
      if (rnd.nextInt(4) == 0) withBullet + "..." else withBullet
    }
    val docs = (0 until 60).map { i =>
      val t = Seq.fill(1 + rnd.nextInt(5))(line()).mkString("\n")
      // leading/trailing whitespace on some docs
      (i.toLong, if (rnd.nextBoolean()) " " + t + " " else t)
    }
    val got = CorpusOps.qualityRules(docs.toDF("doc_id", "text"),
        "doc_id", "text", minWords = 3, maxWords = 50)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    docs.foreach { case (id, text) =>
      val lines = text.split("\n", -1)
      val ws = lines.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      val bigrams = lines.flatMap { l =>
        val wl = l.split(" ", -1).filter(_.nonEmpty)
        wl.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      }
      val top = if (bigrams.isEmpty) ("", 0L)
        else bigrams.groupBy(identity).view.mapValues(_.length.toLong)
          .toSeq.minBy { case (g, c) => (-c, g) }
      val nSym = text.count(_ == '#') +
        "\\.\\.\\.".r.findAllIn(text).length
      val r = got(id)
      assert(r.getAs[Long]("n_lines") == lines.length.toLong, id)
      assert(r.getAs[Long]("n_dup_lines") ==
        (lines.length - lines.distinct.length).toLong, id)
      assert(r.getAs[Long]("n_words") == ws.length.toLong, id)
      assert(r.getAs[Long]("n_symbols") == nSym.toLong, id)
      assert(r.getAs[Long]("n_bullet_lines") ==
        lines.count(l => l.startsWith("- ") || l.startsWith("* ") ||
          l.startsWith("• ")).toLong, id)
      assert(r.getAs[Long]("n_ellipsis_lines") ==
        lines.count(l => l.endsWith("...") || l.endsWith("…")).toLong, id)
      if (top._2 > 0) {
        assert(r.getAs[String]("top2_gram") == top._1, id)
        assert(r.getAs[Long]("top2_n") == top._2, id)
      }
      val keep = ws.length >= 3 && ws.length <= 50 &&
        ws.map(_.length.toLong).sum >= 3L * ws.length &&
        ws.map(_.length.toLong).sum <= 10L * ws.length &&
        10L * nSym < ws.length &&
        10L * r.getAs[Long]("n_bullet_lines") < 9L * lines.length &&
        10L * r.getAs[Long]("n_ellipsis_lines") < 3L * lines.length &&
        10L * (lines.length - lines.distinct.length) < 3L * lines.length &&
        5L * top._2 * top._1.length < text.length
      assert(r.getAs[Boolean]("keep") == keep, id)
    }
  }

  test("qualityRules ≡ driver-side reference on the documents fixture") {
    val rows = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val got = CorpusOps.qualityRules(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text",
      minWords = 30, maxWords = 100000)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows.foreach { case (id, text) =>
      val lines = text.split("\n", -1)
      val words = lines.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      val bigrams = lines.flatMap { l =>
        val wl = l.split(" ", -1).filter(_.nonEmpty)
        wl.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      }
      val top = if (bigrams.isEmpty) ("", 0L)
        else {
          val counts = bigrams.groupBy(identity).view.mapValues(_.length.toLong)
          counts.toSeq.minBy { case (g, c) => (-c, g) } match { case (g, c) => (g, c) }
        }
      val r = got(id)
      assert(r.getAs[Long]("n_lines") == lines.length.toLong, id)
      assert(r.getAs[Long]("n_dup_lines") ==
        (lines.length - lines.distinct.length).toLong, id)
      assert(r.getAs[Long]("n_words") == words.length.toLong, id)
      assert(r.getAs[Long]("sum_word_chars") == words.map(_.length.toLong).sum, id)
      if (top._2 > 0) {
        assert(r.getAs[String]("top2_gram") == top._1, id)
        assert(r.getAs[Long]("top2_n") == top._2, id)
      }
      val keep = words.length >= 30 &&
        words.map(_.length.toLong).sum >= 3L * words.length &&
        words.map(_.length.toLong).sum <= 10L * words.length &&
        10L * r.getAs[Long]("n_symbols") < words.length &&
        10L * r.getAs[Long]("n_bullet_lines") < 9L * lines.length &&
        10L * r.getAs[Long]("n_ellipsis_lines") < 3L * lines.length &&
        10L * (lines.length - lines.distinct.length) < 3L * lines.length &&
        5L * top._2 * top._1.length < text.length
      assert(r.getAs[Boolean]("keep") == keep, id)
    }
    // the composite flag must be non-trivial on the fixture (both outcomes)
    val keeps = got.values.map(_.getAs[Boolean]("keep")).toSeq
    assert(keeps.contains(true) && keeps.contains(false),
      s"degenerate fixture split: ${keeps.count(identity)}/${keeps.size}")
  }

  test("repetitionStats: counts and the integer keep rule match a hand-computed doc") {
    // bigrams of "a b a b a b c": a b ×3, b a ×2, b c ×1 → 6 total, top 3.
    // 3·5 ≤ 6·1 is false → drop. "x y z w" has all-distinct bigrams (3 of
    // them, top 1): 1·5 ≤ 3 false → ALSO drop (short docs can't pass 1/5
    // with n_grams < 5 — the rule composes with a length filter upstream).
    val d = Seq((1L, "a b a b a b c"), (2L, "x y z w"),
      (3L, "t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val got = CorpusOps.repetitionStats(d, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 6L, 3L, 0L), (2L, 3L, 1L, 0L), (3L, 8L, 1L, 1L)))
  }

  test("repetitionStats equals a brute-force count over the fixture") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    val got = CorpusOps.repetitionStats(d, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val brute = d.select($"doc_id", $"text").as[(Long, String)].collect().map {
      case (id, text) =>
        val toks = text.split(" ")
        val grams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).map(_._2.size)
        id -> (id, grams.size.toLong, counts.max.toLong,
          if (counts.max * 5 <= grams.size) 1L else 0L)
    }.toMap
    assert(got === brute)
  }

  test("topTerms ranks by tf desc, df asc (rarer wins), token asc") {
    val d = Seq(
      (1L, "x x x common rare1"), // x tf=3; common/rare1 tf=1 — df breaks the tie
      (2L, "common common y"),
      (3L, "common z")).toDF("doc_id", "text")
    val got = CorpusOps.topTerms(d, "doc_id", "text", k = 2)
      .select("doc_id", "rnk", "token").as[(Long, Int, String)].collect().toSet
    // doc 1: x (tf 3) then rare1 (tf 1, df 1) beats common (tf 1, df 3)
    assert(got === Set(
      (1L, 1, "x"), (1L, 2, "rare1"),
      (2L, 1, "common"), (2L, 2, "y"),
      (3L, 1, "z"), (3L, 2, "common"))) // z: df 1 < common's df 3 at equal tf
  }

  test("stratifiedHashSample: deterministic, exact hash rule, unconfigured strata dropped") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val rates = Seq(("en", 1, 2), ("de", 1, 4))
    val got = CorpusOps.stratifiedHashSample(d, $"lang", $"text", rates, hashBase = 131L)
      .select("doc_id").as[Long].collect().toSet
    val hashes = d.select($"doc_id", $"lang",
        TextOps.polyHash($"text", 131L).as("h"))
      .as[(Long, String, Long)].collect()
    val expected = hashes.collect {
      case (id, "en", h) if h % 2 < 1 => id
      case (id, "de", h) if h % 4 < 1 => id
    }.toSet
    assert(got === expected)
    assert(expected.nonEmpty)
    // repeat run identical (no rand())
    assert(CorpusOps.stratifiedHashSample(d, $"lang", $"text", rates, 131L)
      .select("doc_id").as[Long].collect().toSet === got)
    // base-31 decision differs from base-131 (independent decisions)
    val other = CorpusOps.stratifiedHashSample(d, $"lang", $"text", rates, 31L)
      .select("doc_id").as[Long].collect().toSet
    assert(other != got)
  }

  test("temperatureSample: exact integer keep rule; small strata kept whole") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val c = 4
    val m = 1 << 20
    val got = CorpusOps.temperatureSample(d, $"lang", $"text", c = c)
      .select("doc_id").as[Long].collect().toSet
    // Driver-side recomputation of the u²·n < c²m² rule, BigInt-exact.
    val rows = d.select($"doc_id", $"lang",
        TextOps.polyHash($"text", 173L).as("h"))
      .as[(Long, String, Long)].collect()
    val n = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = rows.collect {
      case (id, lang, h)
        if BigInt(h % m) * (h % m) * n(lang) < BigInt(c.toLong * m) * (c * m) => id
    }.toSet
    assert(got === expected)
    assert(expected.nonEmpty && expected.size < rows.length,
      "the rate must bite somewhere and keep something")
    // α=1/2 flattening: a stratum no larger than c² clears the threshold
    // for every u < m, so it is kept whole.
    val tiny = Seq((900L, "tiny", "one doc"), (901L, "tiny", "two docs"))
      .toDF("doc_id", "lang", "text")
    val keptTiny = CorpusOps.temperatureSample(tiny, $"lang", $"text", c = c)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTiny === Set(900L, 901L), "n_s = 2 <= c² = 16 → kept whole")
    // repeat run identical (no rand()); partitioning-independent (the
    // decision is pure row content + a global stratum count)
    assert(CorpusOps.temperatureSample(d, $"lang", $"text", c = c)
      .select("doc_id").as[Long].collect().toSet === got)
    assert(CorpusOps.temperatureSample(d.repartition(17), $"lang", $"text", c = c)
      .select("doc_id").as[Long].collect().toSet === got)
  }

  test("redact scrubs emails/phones/IPs; rule order protects mailboxes with digits") {
    val rows = Seq(
      "mail me at bob@ex.com or 555-123-4567 from 1.2.3.4",
      // a mailbox CONTAINING a phone-shaped run (dot-separated, so the
      // phone rule's trailing \b holds): email must fire first and consume
      // it whole — reversed rules leave '<PHONE>' debris
      "x 555-123-4567.b@example.org y",
      "clean text with no pii at all").toDF("t")
    val got = rows.select(TextOps.redact($"t", CorpusOps.PiiRules).as("c"))
      .as[String].collect()
    assert(got(0) == "mail me at <EMAIL> or <PHONE> from <IP>")
    assert(got(1) == "x <EMAIL> y", s"got '${got(1)}'")
    assert(got(2) == "clean text with no pii at all")
    val reversed = rows.select(TextOps.redact($"t", CorpusOps.PiiRules.reverse).as("c"))
      .as[String].collect()
    assert(reversed(1) != "x <EMAIL> y", "rule order must matter — this pins why")
  }

  test("sharedWindowOverlap: planted overlaps, counts, and no self-pairs") {
    // docs 1/2 share exactly the window "SHARED08" (8 chars); docs 1/3 share
    // two distinct 8-char windows via a 9-char common run; doc 4 is clean.
    val corpus = Seq(
      (1L, "aaaa SHARED08 bbbb COMMON9XX cccc"),
      (4L, "nothing in common at all")).toDF("id", "txt")
    val ref = Seq(
      (2L, "dddd SHARED08 eeee"),
      (3L, "ffff COMMON9XX gggg"),
      (1L, "aaaa SHARED08 bbbb COMMON9XX cccc")).toDF("id", "txt")
    val got = CorpusOps.sharedWindowOverlap(corpus, "id", "txt", ref, "id", "txt", n = 8)
      .as[(Long, Long, Long)].collect().toSet
    // brute force over distinct 8-gram STRING sets (hash matching must agree)
    val sets = (Seq((1L, "aaaa SHARED08 bbbb COMMON9XX cccc"),
      (4L, "nothing in common at all"),
      (2L, "dddd SHARED08 eeee"), (3L, "ffff COMMON9XX gggg")))
      .map { case (id, t) => id -> t.sliding(8).toSet }.toMap
    val brute = for {
      a <- Seq(1L, 4L); b <- Seq(2L, 3L, 1L)
      if a != b
      shared = (sets(a) intersect sets(b)).size if shared > 0
    } yield (a, b, shared.toLong)
    assert(got == brute.toSet)
    assert(got.exists { case (a, b, c) => a == 1L && b == 2L && c >= 1L })
    assert(!got.exists { case (a, b, _) => a == b })
  }

  test("sharedWindowOverlap ≡ brute force on random small-alphabet strings") {
    val rng = new scala.util.Random(23)
    def doc() = Seq.fill(6 + rng.nextInt(20))(if (rng.nextBoolean()) 'a' else 'b').mkString
    val corpus = (0L until 40L).map(i => (i, doc()))
    val ref = (100L until 125L).map(i => (i, doc()))
    val got = CorpusOps.sharedWindowOverlap(
        corpus.toDF("id", "txt"), "id", "txt",
        ref.toDF("id", "txt"), "id", "txt", n = 5)
      .as[(Long, Long, Long)].collect().toSet
    val brute = for {
      (a, ta) <- corpus if ta.length >= 5
      (b, tb) <- ref if tb.length >= 5
      shared = (ta.sliding(5).toSet intersect tb.sliding(5).toSet).size if shared > 0
    } yield (a, b, shared.toLong)
    assert(got == brute.toSet)
    assert(brute.nonEmpty, "degenerate fixture")
  }

  test("windowDuplication ≡ brute force; intra-doc repeats stay unique") {
    val rng = new scala.util.Random(41)
    def doc() = Seq.fill(8 + rng.nextInt(18))(if (rng.nextBoolean()) 'a' else 'b').mkString
    val rows = (0L until 50L).map(i => (i, doc())) :+
      (99L, "ababababab") :+ // heavy INTRA-doc repetition
      (100L, "zzzzzqqqqq") // windows unique to this doc (alphabet disjoint-ish)
    val got = CorpusOps.windowDuplication(rows.toDF("id", "txt"), "id", "txt", n = 5)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val winSets = rows.map { case (id, t) => id -> t.sliding(5).toSet }.toMap
    for ((id, t) <- rows) {
      val mine = winSets(id)
      val dup = mine.count(w => rows.exists { case (o, _) => o != id && winSets(o)(w) })
      val (_, nw, nd, fr) = got(id)
      assert(nw == mine.size && nd == dup, s"doc $id")
      assert(fr == dup.toDouble / mine.size, s"doc $id fraction")
    }
    // the z/q doc shares nothing with the a/b corpus
    assert(got(100L)._3 == 0L && got(100L)._4 == 0.0)
  }

  test("sharedWindowOverlap maxWindowDf drops boilerplate windows on both sides") {
    // "BOILER9XX" appears in every doc; only docs 1/2 also share "RARE8###".
    val corpus = Seq(
      (1L, "xx BOILER9XX yy RARE8### zz"),
      (5L, "qq BOILER9XX rr")).toDF("id", "txt")
    val ref = Seq(
      (2L, "ss BOILER9XX tt RARE8### uu"),
      (6L, "vv BOILER9XX ww")).toDF("id", "txt")
    // boilerplate df = 4 docs > cap 3 → its windows vanish; the (1,2) pair
    // survives on the rare window alone, every other pair disappears.
    val capped = CorpusOps.sharedWindowOverlap(
        corpus, "id", "txt", ref, "id", "txt", n = 8, maxWindowDf = Some(3))
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.map { case (a, b, _) => (a, b) } == Set((1L, 2L)))
    val (_, _, nShared) = capped.head
    val rareOnly = "xx BOILER9XX yy RARE8### zz".sliding(8).toSet
      .intersect("ss BOILER9XX tt RARE8### uu".sliding(8).toSet)
      .count(w => !"BOILER9XX".sliding(8).toSet
        .union(" BOILER9XX ".sliding(8).toSet).contains(w))
    assert(nShared == rareOnly)
    // uncapped, all four pairs hit on the boilerplate run
    val open = CorpusOps.sharedWindowOverlap(
        corpus, "id", "txt", ref, "id", "txt", n = 8)
      .as[(Long, Long, Long)].collect()
    assert(open.map(t => (t._1, t._2)).toSet ==
      Set((1L, 2L), (1L, 6L), (5L, 2L), (5L, 6L)))
  }

  test("bm25 ≡ a driver-side reference, bit-exact scores, stable under repartition") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet").select($"doc_id", $"text")
    val terms = Seq("join", "spark", "vector") // sorted already
    val rows = d.as[(Long, String)].collect()
    val dl = rows.map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    val n = rows.length.toLong
    val sumdl = dl.values.sum
    val tf = rows.flatMap { case (id, t) =>
      t.split(" ", -1).filter(terms.contains).map(tok => (id, tok))
    }.groupBy(identity).map { case (k2, v) => k2 -> v.length.toLong }
    val dfm = tf.keys.groupBy(_._2).map { case (tok, v) => tok -> v.size.toLong }
    val avgdl = sumdl.toDouble / n
    def contrib(id: Long, tok: String): Option[Double] = tf.get((id, tok)).map { f =>
      val idf = (n.toDouble - dfm(tok) + 0.5) / (dfm(tok) + 0.5)
      idf * (f * (1.2 + 1.0)) / (f + 1.2 * (1.0 - 0.75 + 0.75 * (dl(id) / avgdl)))
    }
    val expect = rows.map(_._1).flatMap { id =>
      val parts = terms.map(contrib(id, _))
      if (parts.forall(_.isEmpty)) None
      else Some(id -> parts.map(_.getOrElse(0.0)).reduceLeft(_ + _))
    }.sortBy { case (id, s) => (-s, id) }.take(15).toSeq
    val got = CorpusOps.bm25(d.repartition(13), "doc_id", "text", terms, k = 15)
      .orderBy($"rnk").select($"doc_id", $"score").as[(Long, Double)].collect().toSeq
    assert(got === expect) // exact double equality — the whole point
  }

  test("weightedSample ≡ a driver-side A-ES reference; stable under repartition") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text", $"n_chars")
    // Reference: same priority formula computed locally over the collected rows.
    val rows = d.as[(Long, String, Long)].collect()
    def poly(s: String, base: Long): Long =
      s.foldLeft(0L)((acc, c) => (acc * base + c.toInt) % 1000000007L)
    val expect = rows.map { case (id, text, n) =>
      (math.log((poly(text, 151L) + 1) / 1000000008.0) / n.toDouble, id)
    }.sortBy { case (pri, id) => (-pri, id) }.take(10).map(_._2).toSeq
    val got = CorpusOps.weightedSample(d, $"text", $"n_chars", $"doc_id", k = 10)
      .orderBy($"sample_rank").select($"doc_id").as[Long].collect().toSeq
    assert(got === expect)
    // Partitioning must not change the draw (the reproducibility contract).
    val got17 = CorpusOps.weightedSample(d.repartition(17), $"text", $"n_chars",
      $"doc_id", k = 10).orderBy($"sample_rank").select($"doc_id").as[Long].collect().toSeq
    assert(got17 === expect)
  }

  test("weightedSample: weight monotonicity — an all-else-equal heavier row wins") {
    // Two rows with IDENTICAL text (same u) and different weights: the
    // heavier one must out-rank the lighter (ln u < 0, so /w raises it).
    val d = Seq((1L, "same content", 5L), (2L, "same content", 50L))
      .toDF("doc_id", "text", "w")
    val got = CorpusOps.weightedSample(d, $"text", $"w", $"doc_id", k = 2)
      .orderBy($"sample_rank").select($"doc_id").as[Long].collect().toSeq
    assert(got === Seq(2L, 1L))
  }

  test("chunkByTokens: hand-computed chunks, counts, and tail semantics") {
    // size 4, overlap 1 ⇒ step 3. 10 tokens → nch = ceil((10-4)/3)+1 = 3:
    // [t1..t4], [t4..t7], [t7..t10]. 4 tokens → exactly 1 chunk.
    // 5 tokens → 2 chunks, tail [t4 t5] of length 2. "" → [""] (1 token).
    val d = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "a b c d"),
      (3L, "a b c d e"),
      (4L, "")).toDF("doc_id", "text")
    val got = CorpusOps.chunkByTokens(d, "doc_id", "text", chunkSize = 4, overlap = 1)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 4L, "a b c d"),
      (3L, 0L, 4L, "a b c d"),
      (3L, 1L, 2L, "d e"),
      (4L, 0L, 1L, "")))
  }

  test("chunkByTokens reassembles: dropping the overlap prefix restores the doc") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet").limit(120)
    val (size, ov) = (8, 3)
    val chunks = CorpusOps.chunkByTokens(d, "doc_id", "text", size, ov)
      .as[(Long, Long, Long, String)].collect()
    val orig = d.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      // chunk_ids are 0..n-1; every chunk's token count matches its text;
      // all but the last are full-size.
      assert(sorted.map(_._2).toSeq === (0L until sorted.length).toSeq)
      sorted.foreach { case (_, _, n, txt) =>
        assert(txt.split(" ", -1).length.toLong === n)
      }
      assert(sorted.init.forall(_._3 === size.toLong))
      // Reassembly: first chunk whole, then each chunk minus its `ov`-token
      // overlap prefix, concatenated = the original token stream.
      val toks = sorted.head._4.split(" ", -1) ++
        sorted.tail.flatMap(c => c._4.split(" ", -1).drop(ov))
      assert(toks.mkString(" ") === orig(id))
    }
  }

  test("packSequences: offsets tile each stream exactly; seq spans are consistent") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val L = 32
    val got = CorpusOps.packSequences(d, "doc_id", "text", seqLen = L, nStreams = 4)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length === d.count())
    got.groupBy(_._2).foreach { case (stream, rows) =>
      val sorted = rows.sortBy(_._1)
      // Exclusive running sum: each doc starts where the previous ended;
      // stream 0 starts at offset 0.
      var off = 0L
      sorted.foreach { case (id, st, nt, start, first, last, span) =>
        assert(id % 4 === stream && st === stream)
        assert(start === off, s"doc $id")
        assert(first === start / L && last === (start + nt - 1) / L)
        assert(span === last - first + 1 && span >= 1)
        off += nt
      }
    }
    // Stability: the layout is a function of ids, not partitioning.
    val again = CorpusOps.packSequences(d.repartition(17), "doc_id", "text", L, 4)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }

  test("surprisal: hand-computed bit-length scores; rare tokens score higher") {
    // Corpus: "a a a a b" ⊕ "a a b c" → total 9 tokens.
    // freqs: a=6, b=2, c=1. bitlen(9)=4; bits: a→4-3=1, b→4-2=2, c→4-1=3.
    // doc 1 = 4·1 + 2 = 6 over 5 tokens; doc 2 = 2·1 + 2 + 3 = 7 over 4.
    val d = Seq((1L, "a a a a b"), (2L, "a a b c")).toDF("doc_id", "text")
    val got = CorpusOps.surprisal(d, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 5L, 6L, 6.0 / 5), (2L, 4L, 7L, 7.0 / 4)))
  }

  test("surprisal equals a brute-force unigram model over the fixture") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val rows = d.select($"doc_id", $"text").as[(Long, String)].collect()
    val all = rows.flatMap(_._2.split(" ", -1))
    val freq = all.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    def bitlen(n: Long) = java.lang.Long.toBinaryString(n).length
    val totalBits = bitlen(all.length.toLong)
    val expect = rows.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val bits = toks.map(t => (totalBits - bitlen(freq(t))).toLong).sum
      (id, toks.length.toLong, bits, bits.toDouble / toks.length)
    }.sortBy(_._1).toSeq
    val got = CorpusOps.surprisal(d, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === expect)
  }

  test("chunkByTokens plans with zero exchanges (pure per-row generate)") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = CorpusOps.chunkByTokens(d, "doc_id", "text", 64, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("tokenizeToIds: document order preserved under repartition; OOV maps to oovId") {
    val d = Seq((1L, "b a c a zz"), (2L, "zz zz"), (3L, "a")).toDF("doc_id", "text")
    val vocab = Seq(("a", 0L), ("b", 1L), ("c", 2L)).toDF("token", "token_id")
    def run(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.tokenizeToIds(df, "doc_id", "text", vocab)
        .orderBy($"doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    val got = run(d)
    assert(got == Seq(
      (1L, 5L, Seq(1L, 0L, 2L, 0L, -1L)),  // exact stream order, zz -> -1
      (2L, 2L, Seq(-1L, -1L)),
      (3L, 1L, Seq(0L))))
    assert(run(d.repartition(7)) == got, "order must come from data, not partitioning")
  }

  test("lengthBatches: bucket and batch boundaries are exact") {
    // 10 docs of 1 token and 3 of 20 tokens; width 16, batch 4:
    // bucket 0 holds the ten 1-token docs -> batches 0,0,0,0,1,1,1,1,2,2
    // (ordered by (n_tokens, doc_id)); bucket 1 holds the three 20-token docs.
    val d = ((1L to 10L).map(i => (i, "t")) ++
      (11L to 13L).map(i => (i, Seq.fill(20)("w").mkString(" ")))).toDF("doc_id", "text")
    val got = CorpusOps.lengthBatches(d, "doc_id", "text", bucketWidth = 16, batchSize = 4)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getLong(5))).toSeq
    assert(got.take(10) == (1L to 10L).map(i => (i, 0L, (i - 1) / 4, 15L)))
    assert(got.drop(10) == (11L to 13L).map(i => (i, 1L, 0L, 31L)))
    // nStreams deals a bucket across independent streams: same docs, but
    // ranks (and so batches) form per (bucket, stream) — here each of the
    // ten 1-token docs lands in stream doc_id % 5, so batch_idx stays 0.
    val streamed = CorpusOps.lengthBatches(d, "doc_id", "text",
        bucketWidth = 16, batchSize = 4, nStreams = 5)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
    assert(streamed.take(10) == (1L to 10L).map(i => (i, i % 5, 0L)))
  }

  test("learnBpeMerges: hand-computed fixture, greedy overlap, early exhaustion") {
    // words: ab×3, b×1 → one possible merge, then the table is all
    // singletons — asking for 3 merges returns 1 row, not a crash or loop.
    val one = CorpusOps.learnBpeMerges(
        Seq((1L, "ab ab b"), (2L, "ab")).toDF("doc_id", "text"),
        "doc_id", "text", 3)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(one == Seq((1, "a", "b", 3L)))
    // Counting and merging are different phases (as in reference BPE
    // trainers): "aaa" COUNTS both overlapping (a,a) adjacencies (freq 2),
    // but the greedy left-to-right APPLICATION is non-overlapping →
    // [aa, a], so iteration 2 learns (aa, a), not (a, aa).
    val overlap = CorpusOps.learnBpeMerges(
        Seq((1L, "aaa")).toDF("doc_id", "text"), "doc_id", "text", 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(overlap == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("bpeSegment: replays merges in order, lossless, empty ruleset = chars") {
    val d = Seq((1L, "abab abc b")).toDF("doc_id", "text")
    // rules (a,b) then (ab,ab): "abab" → [ab,ab] → [abab]; "abc" → [ab,c]
    val seg = CorpusOps.bpeSegment(d, "doc_id", "text",
        Seq("a" -> "b", "ab" -> "ab"))
      .select($"word", $"syms").as[(String, Seq[String])].collect().toMap
    assert(seg == Map("abab" -> Seq("abab"), "abc" -> Seq("ab", "c"),
      "b" -> Seq("b")))
    // losslessness on the fixture: concatenated pieces restore every word
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(40)
    val merges = CorpusOps.learnBpeMerges(docs, "doc_id", "text", 4)
      .orderBy($"rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val bad = CorpusOps.bpeSegment(docs, "doc_id", "text", merges)
      .filter(concat_ws("", $"syms") =!= $"word").count()
    assert(bad == 0)
    // empty ruleset: pure character split
    val none = CorpusOps.bpeSegment(d, "doc_id", "text", Seq.empty)
      .filter($"word" === "abc").select($"syms").as[Seq[String]].head()
    assert(none == Seq("a", "b", "c"))
  }

  test("tokenizerFertility: hand-computed totals and ratios; byte/char split on non-ASCII") {
    // Under merges [(a,b)]: "ab"→[ab] (1 subword), "abc"→[ab,c] (2),
    // "ü"→[ü] (1 subword, 1 char, 2 UTF-8 bytes).
    val d = Seq(
      ("de", "ab ab abc"), // words: ab×2 (1 sub each), abc×1 (2 subs)
      ("de", "ü"),
      ("en", "abc abc")
    ).toDF("lang", "text")
    val got = CorpusOps.tokenizerFertility(d, "lang", "text", Seq("a" -> "b"))
      .orderBy($"lang").collect()
    val de = got(0)
    assert(de.getString(0) == "de")
    assert(de.getLong(1) == 4L, "n_words: ab, ab, abc, ü")
    assert(de.getLong(2) == 5L, "n_subwords: 1+1+2+1")
    assert(de.getLong(3) == 8L, "n_chars: 2+2+3+1")
    assert(de.getLong(4) == 9L, "n_bytes: 2+2+3+2 — ü is two UTF-8 bytes")
    assert(de.getDouble(5) == 5.0 / 4.0, "fertility")
    assert(de.getDouble(6) == 9.0 / 5.0, "bytes_per_subword")
    assert(de.getDouble(7) == 8.0 / 5.0, "chars_per_subword")
    val en = got(1)
    assert(en.getLong(1) == 2L && en.getLong(2) == 4L &&
      en.getDouble(5) == 2.0, "en: two 2-subword words")
    // Segmentation is shared across groups (one vocab-bounded table):
    // 'abc' counts 2 subwords in BOTH langs.
    assert(de.getLong(2) + en.getLong(2) == 9L)
  }

  test("learnBpeMerges matches an in-test reference trainer on fixture docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(60)
    val got = CorpusOps.learnBpeMerges(docs, "doc_id", "text", 5)
      .as[(Int, String, String, Long)].collect().toSeq
    // Reference: same algorithm, plain Scala over the collected texts.
    var vocab: Map[Vector[String], Long] = docs
      .select($"text").as[String].collect().toSeq
      .flatMap(_.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong }
    val expect = (1 to 5).flatMap { r =>
      val pc = vocab.toSeq.flatMap { case (syms, c) =>
        syms.zip(syms.tail).map(_ -> c)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      if (pc.isEmpty) None else {
        val ((l, rt), f) = pc.minBy { case ((a, b), n) => (-n, a, b) }
        vocab = vocab.toSeq.map { case (syms, c) =>
          val out = syms.tail.foldLeft(Vector(syms.head)) { (acc, x) =>
            if (acc.last == l && x == rt) acc.init :+ (l + rt) else acc :+ x
          }
          (out, c)
        }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        Some((r, l, rt, f))
      }
    }
    assert(got == expect)
  }

  test("bm25 over the persisted index round-trips to the on-the-fly form") {
    import org.apache.spark.sql.functions._
    def cleanup(): Unit = dropTables("bm25_rt_spec_postings", "bm25_rt_spec_doclen")
    cleanup()
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val terms = Seq("join", "spark", "vector")
      val live = CorpusOps.bm25(docs, "doc_id", "text", terms, k = 20)
        .collect().map(_.toSeq)
      CorpusOps.saveTextIndex(docs, "doc_id", "text", "bm25_rt_spec", buckets = 4)
      val loadedDf = CorpusOps.bm25Indexed(spark, "bm25_rt_spec", terms, k = 20)
      assert(loadedDf.collect().map(_.toSeq).toSeq === live.toSeq)
      // the IN-list of query terms prunes buckets on the postings scan
      val p = loadedDf.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount"), s"postings scan must bucket-prune:\n$p")
    } finally cleanup()
  }

  // ---- inBatchNegatives --------------------------------------------------

  /** Scala twin of TextOps.polyHash for ground truth. */
  private def ph(s: String, base: Long = 31L): Long =
    s.foldLeft(0L)((acc, c) => (acc * base + c) % 1000000007L)

  test("inBatchNegatives ≡ brute-force bucket sampling, positives and self excluded") {
    val nB = 4
    val k = 3
    // two positives for query 8; ids 0..59 as candidates
    val pairs = Seq((8L, 21L), (8L, 33L), (16L, 5L), (40L, 40L))
      .toDF("qid", "pid")
    val cands = (0L until 60L).toDF("cid").repartition(5)
    val got = CorpusOps.inBatchNegatives(pairs, "qid", "pid", cands, "cid",
        k = k, nBuckets = nB)
      .as[(Long, Long, Int)].collect().sorted
    val exp = Seq(8L, 16L, 40L).flatMap { q =>
      val pos = Map(8L -> Set(21L, 33L), 16L -> Set(5L), 40L -> Set(40L))(q)
      (0L until 60L)
        .filter(c => ph(c.toString) % nB == ph(q.toString) % nB)
        .filter(c => c != q && !pos.contains(c))
        .sortBy(c => (ph(s"$q:$c"), c))
        .take(k).zipWithIndex
        .map { case (c, i) => (q, c, i + 1) }
    }.sorted
    assert(got === exp)
    assert(got.nonEmpty && got.forall(_._3 <= k))
  }

  test("inBatchNegatives is stable across partitionings") {
    val pairs = (0L until 20L).map(i => (i, (i + 7) % 20)).toDF("qid", "pid")
    val cands = (0L until 200L).toDF("cid")
    def run(parts: Int) = CorpusOps.inBatchNegatives(
        pairs.repartition(parts), "qid", "pid",
        cands.repartition(parts + 1), "cid", k = 5, nBuckets = 8)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(run(2) === run(9))
  }

  test("tokenBudgetMix: two-phase bucket census ≡ naive window, across bucket counts") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val budgets = docs.select($"source").distinct().as[String].collect().toSeq
      .sorted.map(src => src -> (300L + 100L * (src.stripPrefix("src").toLong % 4)))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long)].collect().sorted.toSeq
    val naive = collect(CorpusOps.tokenBudgetMixNaive(
      docs, "doc_id", "source", "text", budgets))
    assert(naive.nonEmpty, "degenerate fixture: no docs within any budget")
    // Across bucket granularities INCLUDING the degenerate single bucket
    // (every group is its own boundary) and a count far above the hash
    // range's occupancy (most buckets empty).
    for (nb <- Seq(1, 7, 1024, 1 << 20)) {
      val twoPhase = collect(CorpusOps.tokenBudgetMix(
        docs, "doc_id", "source", "text", budgets, hashBuckets = nb))
      assert(twoPhase === naive, s"divergence at hashBuckets=$nb")
    }
  }

  test("tokenBudgetMix: budget boundary is exact and unbudgeted groups drop") {
    // Three docs of 3 tokens each, hash order fully determined by content;
    // budget 7 keeps exactly the first two in hash order (6 ≤ 7 < 9), and
    // group "nobudget" vanishes.
    val docs = Seq(
      (1L, "g", "a b c"), (2L, "g", "d e f"), (3L, "g", "g h i"),
      (4L, "nobudget", "j k l")).toDF("doc_id", "source", "text")
    val kept = CorpusOps.tokenBudgetMix(docs, "doc_id", "source", "text",
      Seq("g" -> 7L)).as[(Long, String, Long)].collect().sorted.toSeq
    assert(kept.length === 2 && kept.forall(_._2 == "g"))
    assert(kept.map(_._3).sum === 6L)
    // The kept pair is the hash-order prefix — recompute it directly.
    val order = docs.filter($"source" === "g")
      .select($"doc_id", TextOps.polyHash($"text", 193L).as("h"))
      .orderBy($"h", $"doc_id").as[(Long, Long)].collect().map(_._1).toSeq
    assert(kept.map(_._1).toSet === order.take(2).toSet)
  }

  // ---- duplicated spans -----------------------------------------------

  /** Driver-side twin of the 60-bit window hash (polyHash base 31 + base
    * 131 · 2³⁰) and the full peel: positional w-grams, df ≥ minDf marks,
    * interval union per doc.
    */
  private def bruteSpans(docs: Seq[(Long, String)], w: Int)
      : Map[Long, (Long, Long, Long)] = {
    val prime = 1000000007L
    def ph(s: String, base: Long): Long =
      s.foldLeft(0L)((acc, c) => (acc * base + c.toLong) % prime)
    def wide(s: String): Long = ph(s, 31L) + ph(s, 131L) * (1L << 30)
    val nonEmpty = docs.filter(d => d._2 != null && d._2.nonEmpty)
    val grams = nonEmpty.flatMap { case (id, text) =>
      val tk = text.split(" ", -1)
      if (tk.length < w) Seq.empty
      else tk.sliding(w).zipWithIndex.map { case (g, i) =>
        (id, i.toLong, wide(g.mkString(" ")))
      }.toSeq
    }
    val df = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val marked = grams.filter(g => df(g._3) >= 2)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    nonEmpty.map { case (id, text) =>
      val n = text.split(" ", -1).length.toLong
      val spans = marked.getOrElse(id, Seq.empty)
        .foldLeft(List.empty[(Long, Long)]) {
          case (acc, p) => acc match {
            case (s, e) :: rest if p <= e => (s, math.max(e, p + w)) :: rest
            case _ => (p, p + w) :: acc
          }
        }
      val dup = spans.map { case (s, e) => e - s }.sum
      id -> ((n, spans.length.toLong, dup))
    }.toMap
  }

  test("duplicatedSpans ≡ driver-side interval peel on the fixture") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
    val expect = bruteSpans(d.as[(Long, String)].collect().toSeq, 8)
    val got = CorpusOps.duplicatedSpans(d, "doc_id", "text", w = 8)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length == expect.size)
    got.foreach { case (id, n, ns, dup, kept) =>
      assert(expect(id) == ((n, ns, dup)), s"doc $id")
      assert(kept == n - dup, s"doc $id")
    }
    // the fixture's planted near-dups must actually surface as spans
    assert(got.count(_._3 > 0) > 0, "no duplicated spans found — dead gate")
  }

  test("duplicatedSpans: overlapping and adjacent windows merge into one span") {
    // Docs 1 and 2 share the 10-token run t0..t9: windows at positions
    // 0..2 (w=8) are duplicated and merge into ONE span [0, 10) in both
    // docs; doc 3 is shorter than w and reports clean.
    val shared = (0 until 10).map(i => s"t$i").mkString(" ")
    val d = Seq((1L, shared + " x1 y1 z1"), (2L, shared + " x2 y2 z2"),
      (3L, "a b c")).toDF("doc_id", "text")
    val got = CorpusOps.duplicatedSpans(d, "doc_id", "text", w = 8)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((13L, 1L, 10L, 3L)))
    assert(got(2L) == ((13L, 1L, 10L, 3L)))
    assert(got(3L) == ((3L, 0L, 0L, 3L)))
  }

  test("duplicatedSpans: an in-document repeat is duplication too") {
    // One doc, the 8-token phrase repeated back-to-back: both occurrences
    // mark; the merged span covers the whole 16 tokens.
    val p = (0 until 8).map(i => s"p$i").mkString(" ")
    val d = Seq((1L, s"$p $p")).toDF("doc_id", "text")
    val got = CorpusOps.duplicatedSpans(d, "doc_id", "text", w = 8)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((1L, 16L, 1L, 16L, 0L)))
  }

  // ---- persisted decontamination window index --------------------------

  test("windowProbe ≡ the inline overlap with a ref-side-only boilerplate cap") {
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val ref = docs.filter($"source" === "src0")
      val train = docs.filter($"source" =!= "src0")
      CorpusOps.saveWindowIndex(ref, "doc_id", "text", "widx_spec",
        n = 24, maxRefDf = Some(3), buckets = 4)
      // Driver-side reference: distinct 24-char windows per doc, ref windows
      // with ref-df <= 3, pair counts.
      val refWins = ref.select($"doc_id",
          explode(TextOps.windowHashes($"text", 24)).as("w"))
        .as[(Long, Long)].collect()
      val refDf = refWins.groupBy(_._2).view.mapValues(_.size).toMap
      val keep = refWins.filter(p => refDf(p._2) <= 3)
        .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      val expect = train.select($"doc_id",
          explode(TextOps.windowHashes($"text", 24)).as("w"))
        .as[(Long, Long)].collect()
        .flatMap { case (a, w) => keep.getOrElse(w, Array.empty[Long]).map(b => (a, b)) }
        .filter { case (a, b) => a != b }
        .groupBy(p => p).view.mapValues(_.size.toLong).toMap
      val got = CorpusOps.windowProbe(spark, train, "doc_id", "text", "widx_spec")
        .as[(Long, Long, Long)].collect()
      assert(got.length == expect.size && got.nonEmpty)
      got.foreach { case (a, b, n) => assert(expect((a, b)) == n, s"pair ($a,$b)") }
    } finally dropTables("widx_spec_windows")
  }

  test("forgetFromWindowIndex: a withdrawn benchmark doc vanishes from probes") {
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val ref = docs.filter($"source" === "src0")
      val train = docs.filter($"source" =!= "src0")
      CorpusOps.saveWindowIndex(ref, "doc_id", "text", "widx_rtbf",
        n = 24, maxRefDf = Some(3), buckets = 4)
      def pairs() = CorpusOps.windowProbe(spark, train, "doc_id", "text", "widx_rtbf")
        .as[(Long, Long, Long)].collect().toSet
      val before = pairs()
      val victim = before.head._2 // a benchmark doc that currently matches
      graft.operators.GovernanceOps.forgetFromWindowIndex(spark, "widx_rtbf",
        Seq(victim).toDF("doc_id"), "doc_id")
      val after = pairs()
      assert(after.forall(_._2 != victim), "forgotten benchmark doc still probed")
      assert(after === before.filter(_._2 != victim),
        "purge touched pairs of other benchmark docs")
    } finally dropTables("widx_rtbf_windows")
  }

  test("windowProbe: index side reads bucketed — no index-side exchange") {
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      CorpusOps.saveWindowIndex(docs.filter($"source" === "src0"),
        "doc_id", "text", "widx_plan", n = 24, maxRefDf = Some(3), buckets = 4)
      val plan = CorpusOps.windowProbe(spark,
          docs.filter($"source" =!= "src0"), "doc_id", "text", "widx_plan")
        .queryExecution.executedPlan.toString
      val badExchange = "(?s)Exchange hashpartitioning[^\\n]*\\n[^E]*widx_plan".r
      assert(badExchange.findFirstIn(plan).isEmpty,
        s"index-side exchange over the bucketed windows table:\n$plan")
    } finally dropTables("widx_plan_windows")
  }

  // ---- DSIR online scorer ---------------------------------------------

  test("dsirScore with dsirModelTerms ≡ dsirWeights integers on the fixture") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    val terms = CorpusOps.dsirModelTerms(d, "text", $"lang" === "en", buckets = 64)
    val batch = CorpusOps.dsirWeights(d, "doc_id", "text", $"lang" === "en", 64)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val online = d.filter($"text".isNotNull && $"text" =!= "")
      .select($"doc_id", CorpusOps.dsirScore($"text", terms).as("w"))
      .as[(Long, Long)].collect()
    assert(online.length == batch.size)
    online.foreach { case (id, w) => assert(w == batch(id), s"doc $id") }
  }

  test("dsirScore handles tokens from buckets the corpus never filled") {
    // A 2-token model corpus leaves most of the 64 buckets untouched;
    // scoring a foreign document still works, with every unseen bucket
    // contributing exactly the folded normalizer.
    val model = Seq((1L, "aa bb", true), (2L, "aa cc", false))
      .toDF("id", "text", "tgt")
    val terms = CorpusOps.dsirModelTerms(model, "text", $"tgt", buckets = 64)
    val prime = 1000000007L
    def ph(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31L + c.toLong) % prime)
    val text = "zz qq ww"
    val expect = text.split(" ").map(t => terms((ph(t) % 64).toInt)).sum
    val got = Seq(Tuple1(text)).toDF("text")
      .select(CorpusOps.dsirScore($"text", terms)).as[Long].head()
    assert(got == expect)
  }

  test("tokenDrift ≡ brute-force exact TVD (BigInt reference)") {
    val docs = Seq(
      ("s1", "a a b c"), ("s1", "a b"),
      ("s2", "c c d"), ("s2", "d d e a"),
      ("s3", "f f f f"))
      .toDF("source", "text")
    val toks = Seq(("s1", Seq("a","a","b","c")), ("s1", Seq("a","b")),
      ("s2", Seq("c","c","d")), ("s2", Seq("d","d","e","a")),
      ("s3", Seq("f","f","f","f"))).flatMap { case (s, ts) => ts.map((s, _)) }
    val total = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tt = toks.size.toLong
    val expect = toks.groupBy(_._1).map { case (src, g) =>
      val c = g.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val n = g.size.toLong
      val m = tt - n
      val num = total.keysIterator.map { tok =>
        val ci = c.getOrElse(tok, 0L)
        (BigInt(ci) * m - BigInt(total(tok) - ci) * n).abs
      }.sum
      val tvd = BigDecimal(num).toDouble / (2.0 * n.toDouble * m.toDouble)
      src -> ((n, m, num, tvd))
    }
    val got = CorpusOps.tokenDrift(docs, "text", "source")
      .select($"source", $"n_tokens", $"m_tokens",
        $"tvd_num".cast("string"), $"tvd")
      .as[(String, Long, Long, String, Option[Double])].collect()
    assert(got.length == expect.size)
    got.foreach { case (src, n, m, num, tvd) =>
      val (en, em, enum_, etvd) = expect(src)
      assert((n, m, BigInt(num)) == ((en, em, enum_)), src)
      assert(tvd.contains(etvd), src)
    }
  }

  test("frequentItemsets ≡ unpruned brute force on random baskets (prune bites)") {
    val rnd = new scala.util.Random(44)
    val vocab = ('a' to 'z').map(_.toString)
    // Skewed baskets: few hot items, long cold tail — the regime where
    // the F1/F2 prunes actually remove candidates.
    val docsSeq = Seq.tabulate(120) { i =>
      val k = 3 + rnd.nextInt(6)
      val toks = Seq.fill(k)(vocab(
        math.min(rnd.nextInt(26), math.min(rnd.nextInt(26), rnd.nextInt(26))))).distinct
      (i.toLong, toks.mkString(" "))
    }
    val minSup = 15
    val sets = docsSeq.map(_._2.split(" ").toSet)
    def sup(items: Set[String]) = sets.count(items.subsetOf(_)).toLong
    val expect = (
      vocab.map(t => (1, t, null: String, null: String, sup(Set(t)))) ++
      (for (a <- vocab; b <- vocab if a < b) yield
        (2, a, b, null: String, sup(Set(a, b)))) ++
      (for (a <- vocab; b <- vocab if a < b; c <- vocab if b < c) yield
        (3, a, b, c, sup(Set(a, b, c))))
    ).filter(_._5 >= minSup).toSet
    val got = CorpusOps.frequentItemsets(docsSeq.toDF("doc_id", "text"),
        "doc_id", "text", minSup)
      .as[(Int, String, Option[String], Option[String], Long)]
      .collect().map(r => (r._1, r._2, r._3.orNull, r._4.orNull, r._5)).toSet
    assert(got == expect)
    assert(expect.exists(_._1 == 3), "fixture must exercise the triple level")
  }

  test("frequentItemsets: support above every df yields an empty result") {
    val d = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    assert(CorpusOps.frequentItemsets(d, "doc_id", "text", 3).isEmpty)
  }

  test("sourceOverlap ≡ brute-force set Jaccard; disjoint pairs absent") {
    val docsSeq = Seq(
      ("s1", "a b c"), ("s1", "c d"),
      ("s2", "c d e"),
      ("s3", "x y z"))
    val got = CorpusOps.sourceOverlap(docsSeq.toDF("source", "text"),
        "text", "source")
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val sets = docsSeq.groupBy(_._1).view
      .mapValues(_.flatMap(_._2.split(" ")).toSet).toMap
    val (_, _, n1, n2, ni, nu, j) = got(("s1", "s2"))
    val (a, b) = (sets("s1"), sets("s2"))
    assert((n1, n2, ni, nu) == ((a.size.toLong, b.size.toLong,
      (a & b).size.toLong, (a | b).size.toLong)))
    assert(j == (a & b).size.toDouble / (a | b).size.toDouble)
    // s3 shares no token with anyone: no rows
    assert(!got.keys.exists(k => k._1 == "s3" || k._2 == "s3"))
    assert(got.size == 1)
  }

  test("vocabGini ≡ brute-force pairwise |ci−cj| definition (tie-heavy data)") {
    val rnd = new scala.util.Random(606)
    val vocab = ('a' to 'h').map(_.toString)
    val docsSeq = Seq.tabulate(60) { i =>
      val k = 2 + rnd.nextInt(8)
      // small range forces many tied counts — the rank identity's edge
      (s"s${i % 3}", Seq.fill(k)(vocab(rnd.nextInt(8))).mkString(" "))
    }
    val got = CorpusOps.vocabGini(docsSeq.toDF("source", "text"), "text", "source")
      .select($"source", $"m_tokens", $"total_tokens",
        $"gini_num".cast("string"), $"gini")
      .as[(String, Long, Long, String, Double)].collect().map(r => r._1 -> r).toMap
    docsSeq.groupBy(_._1).foreach { case (src, g) =>
      val counts = g.flatMap(_._2.split(" ")).groupBy(identity)
        .values.map(_.size.toLong).toSeq
      val m = counts.length.toLong
      val t = counts.sum
      val num2 = (for (a <- counts; b <- counts) yield math.abs(a - b)).sum
      assert(num2 % 2 == 0)
      val (_, gm, gt, gnum, ggini) = got(src)
      assert((gm, gt, BigInt(gnum)) == ((m, t, BigInt(num2 / 2))), src)
      assert(ggini == (num2 / 2).toDouble / (m.toDouble * t.toDouble), src)
    }
  }

  test("vocabGini: uniform counts give 0; a dominated vocab approaches 1") {
    val uniform = Seq(("u", "a b c d")).toDF("source", "text")
    val got = CorpusOps.vocabGini(uniform, "text", "source")
      .select($"gini").as[Double].head()
    assert(got == 0.0)
    val skewed = Seq(("s", (Seq.fill(99)("hot") :+ "cold").mkString(" ")))
      .toDF("source", "text")
    val g2 = CorpusOps.vocabGini(skewed, "text", "source")
      .select($"gini").as[Double].head()
    assert(g2 > 0.45 && g2 < 0.5) // m=2: max Gini is (T-2)/2T -> ~0.49
  }

  test("tokenDrift: single-source corpus reports NULL tvd; null text drops") {
    val docs = Seq(("only", Some("x y")), ("only", None)).toDF("source", "text")
    val got = CorpusOps.tokenDrift(docs, "text", "source")
      .as[(String, Long, Long, String, Option[Double])].head()
    assert(got._2 == 2L && got._3 == 0L && got._5.isEmpty)
  }

  test("vocabRichness: hand case + fixture brute force") {
    // "a a a b b c" per source s1: T=6, m=3, hapax={c}, dis={b}
    val hand = Seq(("s1", "a a a b b c"), ("s2", "x y")).toDF("source", "text")
    val got = CorpusOps.vocabRichness(hand, "text", "source")
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("s1") == ("s1", 6L, 3L, 1L, 1L, 3.0 / 6.0, 1.0 / 3.0, 1.0 / 3.0))
    assert(got("s2") == ("s2", 2L, 2L, 2L, 0L, 1.0, 1.0, 0.0))
    // fixture brute force
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"source", $"text").as[(String, String)].collect()
    val expect = d.groupBy(_._1).map { case (src, docs) =>
      val counts = docs.flatMap(_._2.split(" ", -1)).groupBy(identity)
        .map { case (_, v) => v.size.toLong }
      val m = counts.size.toLong
      src -> ((docs.map(_._2.split(" ", -1).length.toLong).sum, m,
        counts.count(_ == 1L).toLong, counts.count(_ == 2L).toLong))
    }
    val fix = CorpusOps.vocabRichness(
        spark.read.parquet(s"$sf0001/documents.parquet"), "text", "source")
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(fix == expect)
  }

  test("ngramNovelty: hand case — novel vs seen grams, short and null docs") {
    val ref = Seq((100L, Some("a b c d"))).toDF("doc_id", "text")
    val probe = Seq(
      (1L, Some("a b c")),       // grams "a b c": seen in ref
      (2L, Some("a b c x")),     // "a b c" seen, "b c x" novel
      (3L, Some("p q")),         // < 3 tokens: zero grams
      (4L, None: Option[String]) // null text: zero grams
    ).toDF("doc_id", "text")
    val got = CorpusOps.ngramNovelty(probe, "doc_id", "text", ref, "text", 3)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, 0L, Some(0.0)),
      (2L, 2L, 1L, Some(0.5)),
      (3L, 0L, 0L, None),
      (4L, 0L, 0L, None)), s"got $got")
  }

  test("tokenShift: appeared/vanished tokens outrank rebalanced ones; exact pins") {
    // A: "x x x y" (Na=4); B: "x x z z" (Nb=4).
    //   x: |3*4 - 2*4| = 4;  y: |1*4 - 0| = 4;  z: |0 - 2*4| = 8.
    // Rank: z (vanished-side mass 8), then x/y tie at 4 -> token order.
    val a = Seq((1L, "x x x y")).toDF("doc_id", "text")
    val b = Seq((1L, "x x z z")).toDF("doc_id", "text")
    val got = CorpusOps.tokenShift(a, b, "text", k = 3)
      .as[(Int, String, Long, Long, String, Double)].collect().toSeq
    assert(got == Seq(
      (1, "z", 0L, 2L, "8", 8.0 / 16.0),
      (2, "x", 3L, 2L, "4", 4.0 / 16.0),
      (3, "y", 1L, 0L, "4", 4.0 / 16.0)), s"got $got")
  }

  test("ngramNovelty: duplicate grams inside a doc count once (distinct sets)") {
    val ref = Seq((1L, Some("z z z z"))).toDF("doc_id", "text")
    val probe = Seq((7L, Some("m n m n m n"))).toDF("doc_id", "text")
    // bigrams of probe: "m n","n m","m n","n m","m n" -> distinct {m n, n m}
    val got = CorpusOps.ngramNovelty(probe, "doc_id", "text", ref, "text", 2)
      .as[(Long, Long, Long, Option[Double])].head()
    assert(got == ((7L, 2L, 2L, Some(1.0))), s"got $got")
  }

  test("balancedShards: exact snake layout on a hand case; null text drops") {
    // 7 docs, token counts distinct so the (n_tokens DESC, doc_id) order is
    // obvious: ids 1..7 with 70,60,50,40,30,20,10 tokens. nShards = 3:
    // ranks 1..7 -> rn 0..6 -> rounds [0,0,0, 1,1,1, 2]; snake shards
    // down(0,1,2), up(2,1,0), down(0).
    val mk = (n: Int) => Seq.fill(n)("w").mkString(" ")
    val d = Seq(
      (1L, Some(mk(70))), (2L, Some(mk(60))), (3L, Some(mk(50))),
      (4L, Some(mk(40))), (5L, Some(mk(30))), (6L, Some(mk(20))),
      (7L, Some(mk(10))), (8L, Option.empty[String])
    ).toDF("doc_id", "text")
    val got = CorpusOps.balancedShards(d, "doc_id", "text", nShards = 3)
      .orderBy($"doc_id").as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq(
      (1L, 70L, 0), (2L, 60L, 1), (3L, 50L, 2),
      (4L, 40L, 2), (5L, 30L, 1), (6L, 20L, 0),
      (7L, 10L, 0)), s"got $got")
  }

  test("balancedShards: snake beats hash-mod balance on a skewed corpus; " +
    "every shard populated; nShards = 1 degenerates to one shard") {
    // Whale-collision fixture — the generic hash-shard failure: 8 whale
    // docs (2000 tokens) whose ids collide mod 8 onto TWO residues (3 and
    // 6), exactly what the birthday bound makes near-certain for any real
    // whale population; 192 small docs with smooth varied lengths. Snake
    // deals the 8 whales one per shard structurally (round 0).
    val whaleIds = Set(3L, 11L, 14L, 22L, 27L, 35L, 38L, 46L)
    val docs = (1 to 200).map { i =>
      val len = if (whaleIds(i.toLong)) 2000 else 10 + (i * 13) % 200
      (i.toLong, Seq.fill(len)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val n = 8
    val got = CorpusOps.balancedShards(docs, "doc_id", "text", n)
    val sums = got.groupBy($"shard").agg(sum($"n_tokens").as("tok"))
      .as[(Int, Long)].collect().toMap
    assert(sums.keySet == (0 until n).toSet, s"missing shards: $sums")
    val snakeSpread = sums.values.max - sums.values.min
    val hashSums = got
      .groupBy(pmod($"doc_id", lit(n.toLong)).as("hs"))
      .agg(sum($"n_tokens").as("tok")).as[(Long, Long)].collect().map(_._2)
    val hashSpread = hashSums.max - hashSums.min
    // Hash piles 4 whales each on shards 3 and 6 (≥ ~6000 over fair
    // share); snake's spread comes from the small-doc tail only.
    assert(snakeSpread * 4 < hashSpread,
      s"snake $snakeSpread vs hash $hashSpread")
    assert(snakeSpread <= 2000L, s"snake spread $snakeSpread")

    val one = CorpusOps.balancedShards(docs, "doc_id", "text", 1)
      .select($"shard").distinct().as[Int].collect().toSeq
    assert(one == Seq(0))
  }

  test("balancedShards: assignment is reproducible across partitionings") {
    val docs = (1 to 97).map { i =>
      (i.toLong, Seq.fill(1 + (i * 7) % 13)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val a = CorpusOps.balancedShards(docs.repartition(13), "doc_id", "text", 5)
      .orderBy($"doc_id").as[(Long, Long, Int)].collect().toSeq
    val b = CorpusOps.balancedShards(docs.coalesce(1), "doc_id", "text", 5)
      .orderBy($"doc_id").as[(Long, Long, Int)].collect().toSeq
    assert(a == b)
  }
}
