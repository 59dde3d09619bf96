package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SetSimJoin

/** Prefix-filtering correctness: the inverted-index join must return EXACTLY
  * the pairs a blocked all-pairs scan returns — the prefix is an
  * optimization, never a semantics change.
  */
class SetSimJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def grams = spark.read.parquet(s"$sf0001/documents.parquet").limit(250)
    .filter(length($"text") >= 3)
    .select($"doc_id", $"lang", $"source",
      array_distinct(transform(sequence(lit(1), length($"text") - 2),
        i => $"text".substr(i, lit(3)))).as("gr"))

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_i", "doc_j", "n_common", "n_union")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  /** Blocked all-pairs Jaccard over (doc_id, blk, gr) — the reference every
    * prefix path is compared with.
    */
  private def brute(df: org.apache.spark.sql.DataFrame, tn: Int, td: Int) =
    pairsOf(
      df.as("a").join(df.as("b"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
          size(array_intersect(col("a.gr"), col("b.gr"))).cast("long").as("n_common"),
          size(array_union(col("a.gr"), col("b.gr"))).cast("long").as("n_union"))
        .filter(col("n_union") > 0 && col("n_common") * td >= col("n_union") * tn))

  /** The join-back path on a packable input: a cap of 1 df entry is below
    * every fixture's df table; `hotDf` sets the hot-key split.
    */
  private def joinBack(df: org.apache.spark.sql.DataFrame, tn: Int, td: Int,
      hotDf: Long = 1L << 20) =
    SetSimJoin.jaccardJoinWith(df, "doc_id", "gr", Seq("blk"), tn, td,
      maxDf = None, maxCandidates = SetSimJoin.DefaultMaxCandidates,
      maxPackedDfEntries = 1, hotDfThreshold = hotDf)

  test("jaccardJoin ≡ blocked all-pairs join at t = 3/5") {
    val g = grams
    val viaIndex = pairsOf(
      SetSimJoin.jaccardJoin(g, "doc_id", "gr", Seq("lang", "source"), 3, 5))
    val bruteForce = pairsOf(
      g.as("a").join(g.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
          size(array_intersect(col("a.gr"), col("b.gr"))).cast("long").as("n_common"),
          size(array_union(col("a.gr"), col("b.gr"))).cast("long").as("n_union"))
        .filter($"n_union" > 0 && $"n_common" * 5 >= $"n_union" * 3))
    assert(viaIndex == bruteForce)
    assert(bruteForce.nonEmpty, "fixture must contain similar pairs for this test to bite")
  }

  test("threshold edge: t = 1 returns only identical sets") {
    val g = grams
    val exact = pairsOf(SetSimJoin.jaccardJoin(g, "doc_id", "gr", Seq("lang", "source"), 1, 1))
    assert(exact.forall { case (_, _, common, union) => common == union })
  }

  test("property: ≡ brute force on random small-vocab sets across thresholds") {
    val rng = new scala.util.Random(7) // deterministic
    // 25-token vocabulary → dense mid-similarity pairs, the regime where a
    // prefix/positional/length-filter bug would actually drop answers.
    val rows = (0 until 120).map { id =>
      val toks = Seq.fill(3 + rng.nextInt(12))("t" + rng.nextInt(25)).distinct
      (id.toLong, if (id % 2 == 0) "a" else "b", toks)
    }
    // planted exact twins so even the t=4/5 pass has answers to lose
    val planted = rows.take(4).map { case (id, blk, toks) => (id + 1000L, blk, toks) }
    val df = (rows ++ planted).toDF("doc_id", "blk", "gr")
    for ((tn, td) <- Seq((1, 2), (3, 5), (4, 5))) {
      val viaIndex = pairsOf(SetSimJoin.jaccardJoin(df, "doc_id", "gr", Seq("blk"), tn, td))
      val want = brute(df, tn, td)
      assert(viaIndex == want, s"divergence at threshold $tn/$td")
      assert(want.nonEmpty, s"degenerate fixture at threshold $tn/$td")
    }
  }

  test("property: string tokens take the join-back ≡ brute force, hot keys included") {
    val rng = new scala.util.Random(13) // deterministic
    // A deliberately skewed vocabulary: token t0 appears in EVERY set (the
    // stop-token hot key the join-back's split exists for), the rest drawn
    // from a small vocab so prefixes collide and ties on (df, token) occur.
    // String tokens never pack, so both calls run the join-back: once with
    // the default split (no key is hot) and once with a split at df 8, which
    // routes t0 and the common tail through the broadcast branch.
    val rows = (0 until 150).map { id =>
      val toks = ("t0" +: Seq.fill(2 + rng.nextInt(10))("t" + rng.nextInt(20))).distinct
      (id.toLong, if (id % 3 == 0) "a" else "b", toks)
    }
    val df = rows.toDF("doc_id", "blk", "gr")
    for ((tn, td) <- Seq((1, 2), (3, 5))) {
      val want = brute(df, tn, td)
      val results = Seq(
        pairsOf(SetSimJoin.jaccardJoin(df, "doc_id", "gr", Seq("blk"), tn, td)),
        pairsOf(joinBack(df, tn, td, hotDf = 8L)))
      assert(want.nonEmpty, s"degenerate fixture at threshold $tn/$td")
      results.foreach(r => assert(r == want, s"df path divergence at threshold $tn/$td"))
    }
  }

  test("property: packed and join-back paths ≡ brute force on long tokens, hot keys") {
    val rng = new scala.util.Random(29) // deterministic
    // Long-token twin of the skewed fixture (only long tokens pack):
    // token 0 is the everywhere-hot stop token; small vocab forces prefix
    // collisions and (df, token) ties. The rare-first ORDER differs between
    // long and string token types (2 < 10 but "t10" < "t2") — the result
    // set must not, and must match on the packed path and on the join-back
    // with and without hot keys.
    val rows = (0 until 150).map { id =>
      val toks = (0L +: Seq.fill(2 + rng.nextInt(10))(1L + rng.nextInt(20).toLong)).distinct
      (id.toLong, if (id % 3 == 0) "a" else "b", toks)
    }
    // planted exact twins so even the t=1 pass has answers to lose
    val planted = rows.take(4).map { case (id, blk, toks) => (id + 1000L, blk, toks) }
    val df = (rows ++ planted).toDF("doc_id", "blk", "gr")
    for ((tn, td) <- Seq((1, 2), (3, 5), (1, 1))) {
      val want = brute(df, tn, td)
      val results = Seq(
        pairsOf(SetSimJoin.jaccardJoin(df, "doc_id", "gr", Seq("blk"), tn, td)),
        pairsOf(joinBack(df, tn, td)),
        pairsOf(joinBack(df, tn, td, hotDf = 8L)))
      assert(want.nonEmpty, s"degenerate fixture at threshold $tn/$td")
      results.foreach(r => assert(r == want, s"df path divergence at threshold $tn/$td"))
    }
  }

  test("Packed over the df-entry cap falls back to Aggregate, identical output") {
    // Vocabulary of ~21 tokens × 2 blocks ⇒ well over a cap of 5 distinct
    // (block, token) entries: the guard must refuse to pack and degrade to
    // the hot-split aggregate join-back — same rows out, and the
    // packed-prefix generator must NOT appear in the executed plan.
    val rng = new scala.util.Random(31)
    val rows = (0 until 60).map { id =>
      val toks = (0L +: Seq.fill(2 + rng.nextInt(8))(1L + rng.nextInt(20).toLong)).distinct
      (id.toLong, if (id % 2 == 0) "a" else "b", toks)
    }
    val df = rows.toDF("doc_id", "blk", "gr")
    def withCap(cap: Int) = SetSimJoin.jaccardJoinWith(df, "doc_id", "gr", Seq("blk"),
      1, 2, None, SetSimJoin.DefaultMaxCandidates, cap, hotDfThreshold = 1L << 20)
    val overCap = withCap(5)
    assert(!overCap.queryExecution.optimizedPlan.toString.contains("graft_prefix_tokens"),
      "over-cap input must not run the driver-packed prefix generator")
    val want = brute(df, 1, 2)
    assert(pairsOf(overCap) == want)
    assert(want.nonEmpty, "degenerate fixture")
    // Under a generous cap the same input packs fine and still agrees.
    val underCap = withCap(10000)
    assert(underCap.queryExecution.optimizedPlan.toString.contains("graft_prefix_tokens"),
      "under-cap input must keep the packed-prefix path")
    assert(pairsOf(underCap) == want)
  }

  test("the packed path runs only for long tokens under string blocks") {
    // The selection rule, read off the optimized plan: the packed-prefix
    // generator appears for ARRAY<BIGINT> tokens under STRING (or no)
    // blocking columns, and never for string tokens or non-string blocks —
    // those take the join-back, and still answer.
    def packs(df: org.apache.spark.sql.DataFrame, blocks: Seq[String]) =
      SetSimJoin.jaccardJoin(df, "doc_id", "gr", blocks, 1, 2)
        .queryExecution.optimizedPlan.toString.contains("graft_prefix_tokens")
    val longToks = Seq((1L, "a", Seq(1L, 2L, 3L)), (2L, "a", Seq(1L, 2L, 3L)))
      .toDF("doc_id", "blk", "gr")
    assert(packs(longToks, Seq("blk")) && packs(longToks, Nil))
    val stringToks = Seq((1L, "a", Seq("x", "y", "z")), (2L, "a", Seq("x", "y", "z")))
      .toDF("doc_id", "blk", "gr")
    assert(!packs(stringToks, Seq("blk")))
    val intBlock = Seq((1L, 7, Seq(1L, 2L, 3L)), (2L, 7, Seq(1L, 2L, 3L)))
      .toDF("doc_id", "blk", "gr")
    assert(!packs(intBlock, Seq("blk")))
    for (df <- Seq(stringToks, intBlock))
      assert(pairsOf(SetSimJoin.jaccardJoin(df, "doc_id", "gr", Seq("blk"), 1, 2)) ==
        Set((1L, 2L, 3L, 3L)))
  }

  test("packed path without blocking columns ≡ brute force across thresholds") {
    // Blockless jaccard calls on long tokens now pack (one df block, the
    // empty key); brute force over one constant block is the reference.
    val rng = new scala.util.Random(41) // deterministic
    val rows = (0 until 120).map { id =>
      (id.toLong, "x", Seq.fill(3 + rng.nextInt(10))(rng.nextInt(20).toLong).distinct)
    }
    val planted = rows.take(4).map { case (id, blk, toks) => (id + 1000L, blk, toks) }
    val df = (rows ++ planted).toDF("doc_id", "blk", "gr")
    for ((tn, td) <- Seq((1, 2), (3, 5), (1, 1))) {
      val out = SetSimJoin.jaccardJoin(df.drop("blk"), "doc_id", "gr", Nil, tn, td)
      assert(out.queryExecution.optimizedPlan.toString.contains("graft_prefix_tokens"))
      val want = brute(df, tn, td)
      assert(want.nonEmpty, s"degenerate fixture at threshold $tn/$td")
      assert(pairsOf(out) == want, s"divergence at threshold $tn/$td")
    }
  }

  test("degenerate threshold is rejected") {
    assertThrows[IllegalArgumentException](
      SetSimJoin.jaccardJoin(grams, "doc_id", "gr", Seq("lang"), 0, 5))
    assertThrows[IllegalArgumentException](
      SetSimJoin.jaccardJoin(grams, "doc_id", "gr", Seq("lang"), 6, 5))
  }

  // ------------------------------------------------------- containmentJoin

  private def cPairsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_small", "doc_big", "n_common", "n_small")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def cBrute(df: org.apache.spark.sql.DataFrame, tn: Int, td: Int) =
    cPairsOf(
      df.as("a").join(df.as("b"),
          col("a.blk") === col("b.blk") && col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("doc_small"), col("b.doc_id").as("doc_big"),
          size(array_intersect(col("a.gr"), col("b.gr"))).cast("long").as("n_common"),
          size(col("a.gr")).cast("long").as("n_small"))
        .filter(col("n_small") > 0 && col("n_common") * td >= col("n_small") * tn))

  test("capTokenDf ≡ brute stop-token removal; capped join ≡ brute force " +
    "over the filtered sets (the loud df-cap guard, r17 VERDICT)") {
    val g = grams
    val maxDf = 3L
    // Brute reference: per-(lang, source) df over distinct per-doc grams,
    // each doc's array minus its block's hot grams.
    val df = g.select($"doc_id", $"lang", $"source", explode($"gr").as("tok"))
    val hot = df.groupBy($"lang", $"source", $"tok").count()
      .filter($"count" > maxDf).drop("count")
    val bruteFiltered = df.join(hot, Seq("lang", "source", "tok"), "left_anti")
      .groupBy($"doc_id", $"lang", $"source")
      .agg(sort_array(collect_list($"tok")).as("gr"))
    val capped = SetSimJoin.capTokenDf(g, "gr", Seq("lang", "source"), maxDf)
    assert(capped.columns.toSeq == g.columns.toSeq, "column order preserved")
    val gotSets = capped.select($"doc_id", sort_array($"gr").as("gr"))
      .as[(Long, Seq[String])].collect().toMap
    val wantSets = bruteFiltered.select($"doc_id", $"gr")
      .as[(Long, Seq[String])].collect().toMap
    // Docs whose whole set was hot keep an EMPTY array (absent from the
    // brute regroup, which loses empty groups) — same doc universe.
    assert(gotSets.filter(_._2.nonEmpty) == wantSets.filter(_._2.nonEmpty))
    assert(gotSets.keySet == g.select($"doc_id").as[Long].collect().toSet)
    assert(gotSets.values.exists(_.isEmpty) ||
      gotSets.values.map(_.size).sum < g.select(size($"gr")).as[Int].collect().map(_.toLong).sum,
      "maxDf=3 must actually truncate on the fixture for this test to bite")
    // The capped join is EXACT on the filtered universe.
    val viaIndex = pairsOf(
      SetSimJoin.jaccardJoin(capped, "doc_id", "gr", Seq("lang", "source"), 3, 5))
    val brute = pairsOf(
      capped.as("a").join(capped.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
          size(array_intersect(col("a.gr"), col("b.gr"))).cast("long").as("n_common"),
          size(array_union(col("a.gr"), col("b.gr"))).cast("long").as("n_union"))
        .filter($"n_union" > 0 && $"n_common" * 5 >= $"n_union" * 3))
    assert(viaIndex == brute)
    assert(brute.nonEmpty, "rare-gram similarity must survive the cap here")
  }

  test("capTokenDf: identity at Long.MaxValue and at maxDf >= every df; " +
    "blockless calls cap corpus-wide") {
    val g = grams.limit(50)
    assert(SetSimJoin.capTokenDf(g, "gr", Seq("lang", "source"), Long.MaxValue)
      eq g, "Long.MaxValue short-circuits to the input frame")
    val n = g.count()
    val loose = SetSimJoin.capTokenDf(g, "gr", Seq("lang", "source"), n)
    assert(loose.select($"doc_id", sort_array($"gr")).collect().toSet ==
      g.select($"doc_id", sort_array($"gr")).collect().toSet,
      "a cap no df reaches must change nothing")
    // Blockless: df counted corpus-wide; a gram in > maxDf docs drops.
    val tiny = Seq(
      (1L, Seq("a", "x")), (2L, Seq("a", "y")), (3L, Seq("a", "z")),
      (4L, Seq("b", "w"))).toDF("doc_id", "gr")
    val cappedTiny = SetSimJoin.capTokenDf(tiny, "gr", Seq.empty, 2L)
      .select($"doc_id", sort_array($"gr").as("gr"))
      .as[(Long, Seq[String])].collect().toMap
    assert(cappedTiny == Map(1L -> Seq("x"), 2L -> Seq("y"),
      3L -> Seq("z"), 4L -> Seq("b", "w")), s"got $cappedTiny")
    intercept[IllegalArgumentException](
      SetSimJoin.capTokenDf(tiny, "gr", Seq.empty, 0L))
  }

  test("capTokenDf: the explode/anti-join path ≡ the broadcast path; " +
    "needing it without an idCol fails loudly") {
    val g = grams
    val viaBroadcast = SetSimJoin.capTokenDf(g, "gr", Seq("lang", "source"), 3L)
      .select($"doc_id", sort_array($"gr").as("gr"))
      .as[(Long, Seq[String])].collect().toMap
    // broadcastHotMax = 0 forces every hot block onto the wide path.
    val viaAntiJoin = SetSimJoin.capTokenDf(g, "gr", Seq("lang", "source"), 3L,
        idCol = "doc_id", broadcastHotMax = 0L)
      .select($"doc_id", sort_array($"gr").as("gr"))
      .as[(Long, Seq[String])].collect().toMap
    assert(viaAntiJoin == viaBroadcast)
    assert(viaBroadcast.nonEmpty && viaBroadcast.values.exists(_.nonEmpty))
    val e = intercept[IllegalArgumentException](
      SetSimJoin.capTokenDf(g, "gr", Seq("lang", "source"), 3L,
        broadcastHotMax = 0L))
    assert(e.getMessage.contains("idCol"), e.getMessage)
    // A row whose whole set is hot stays, with the element-typed empty
    // array, on BOTH paths.
    val allHot = Seq((1L, Seq("a")), (2L, Seq("a")), (3L, Seq("a")))
      .toDF("doc_id", "gr")
    for (wideMax <- Seq(0L, 8192L)) {
      val got = SetSimJoin.capTokenDf(allHot, "gr", Seq.empty, 2L,
          idCol = "doc_id", broadcastHotMax = wideMax)
        .select($"doc_id", $"gr").as[(Long, Seq[String])].collect().toMap
      assert(got == Map(1L -> Seq(), 2L -> Seq(), 3L -> Seq()), s"got $got")
    }
  }

  test("containmentJoin rejects Packed and degenerate thresholds") {
    // The index side needs the full ranked sets, which the packed path
    // never emits: even on a packable input (long tokens, string block)
    // containment must rank through the df window, not the packed-prefix
    // generator — and still answer.
    val df = Seq((1L, "a", Seq(1L, 2L)), (2L, "a", Seq(1L, 2L, 3L)))
      .toDF("doc_id", "blk", "gr")
    val out = SetSimJoin.containmentJoin(df, "doc_id", "gr", Seq("blk"), 1, 2)
    assert(!out.queryExecution.optimizedPlan.toString.contains("graft_prefix_tokens"),
      "containmentJoin must not run the packed-prefix generator")
    assert(cPairsOf(out) === Set((1L, 2L, 2L, 2L), (2L, 1L, 2L, 3L)))
    assertThrows[IllegalArgumentException](
      SetSimJoin.containmentJoin(df, "doc_id", "gr", Seq("blk"), 0, 5))
    assertThrows[IllegalArgumentException](
      SetSimJoin.containmentJoin(df, "doc_id", "gr", Seq("blk"), 6, 5))
  }

  test("containment: a small doc inside a big one qualifies; the reverse does not") {
    // The shape Jaccard misses: small ⊂ big with |big| ≫ |small| has
    // containment 1 but Jaccard 3/23 — jaccardJoin at t=1/2 must NOT pair
    // them, containmentJoin at t=9/10 must, and only in the small→big
    // direction.
    val small = Seq("q1", "q2", "q3")
    val big = small ++ (1 to 20).map("f" + _)
    val df = Seq((1L, "a", small), (2L, "a", big)).toDF("doc_id", "blk", "gr")
    val c = cPairsOf(SetSimJoin.containmentJoin(df, "doc_id", "gr", Seq("blk"), 9, 10))
    assert(c === Set((1L, 2L, 3L, 3L)))
    val j = pairsOf(SetSimJoin.jaccardJoin(df, "doc_id", "gr", Seq("blk"), 1, 2))
    assert(j.isEmpty, "sanity: the same pair must be invisible to Jaccard")
  }

  test("property: containmentJoin ≡ brute-force ordered pairs across thresholds") {
    val rng = new scala.util.Random(17) // deterministic
    val rows = (0 until 120).map { id =>
      val toks = Seq.fill(3 + rng.nextInt(12))("t" + rng.nextInt(25)).distinct
      (id.toLong, if (id % 2 == 0) "a" else "b", toks)
    }
    // Planted PROPER SUBSETS (never supersets of everything): high
    // containment / low Jaccard, the pairs only the asymmetric join finds.
    val planted = rows.take(5).map { case (id, blk, toks) =>
      (id + 1000L, blk, toks.take(math.max(2, toks.length / 2)))
    }
    val df = (rows ++ planted).toDF("doc_id", "blk", "gr")
    for ((tn, td) <- Seq((1, 2), (3, 4), (9, 10), (1, 1))) {
      val viaIndex = cPairsOf(
        SetSimJoin.containmentJoin(df, "doc_id", "gr", Seq("blk"), tn, td))
      val brute = cBrute(df, tn, td)
      assert(viaIndex == brute, s"divergence at threshold $tn/$td")
      assert(brute.nonEmpty, s"degenerate fixture at threshold $tn/$td")
    }
  }

  test("property: containment window rank ≡ brute force, hot keys included") {
    val rng = new scala.util.Random(23) // deterministic
    val rows = (0 until 150).map { id =>
      val toks = ("t0" +: Seq.fill(2 + rng.nextInt(10))("t" + rng.nextInt(20))).distinct
      (id.toLong, if (id % 3 == 0) "a" else "b", toks)
    }
    val df = rows.toDF("doc_id", "blk", "gr")
    for ((tn, td) <- Seq((1, 2), (4, 5))) {
      val got = cPairsOf(
        SetSimJoin.containmentJoin(df, "doc_id", "gr", Seq("blk"), tn, td))
      assert(got.nonEmpty, s"degenerate fixture at threshold $tn/$td")
      assert(got == cBrute(df, tn, td), s"wrong answer at threshold $tn/$td")
    }
  }

  // --------------------------------- default-loud candidate-mass guard (r18)

  test("maxCandidates: a saturated input fails LOUDLY before the join, " +
    "with the capTokenDf/LSH steering in the message") {
    // 40 docs all sharing one token ⇒ ΣC(df,2) = C(40,2) = 780 > 100.
    val hot = (0 until 40).map(id => (id.toLong, "a",
      Seq(0L, 100L + id))).toDF("doc_id", "blk", "gr")
    val ej = intercept[IllegalArgumentException](SetSimJoin.jaccardJoin(
      hot, "doc_id", "gr", Seq("blk"), 1, 2, maxCandidates = 100L))
    assert(ej.getMessage.contains("maxCandidates") &&
      ej.getMessage.contains("capTokenDf") &&
      ej.getMessage.contains("MinHashLsh"), ej.getMessage)
    // String tokens take the join-back, whose census is the Spark aggregate.
    val hotStr = hot.select($"doc_id", $"blk", transform($"gr", _.cast("string")).as("gr"))
    val es = intercept[IllegalArgumentException](SetSimJoin.jaccardJoin(
      hotStr, "doc_id", "gr", Seq("blk"), 1, 2, maxCandidates = 100L))
    assert(es.getMessage.contains("ΣC(df,2) = 780"), es.getMessage)
    val ec = intercept[IllegalArgumentException](SetSimJoin.containmentJoin(
      hot, "doc_id", "gr", Seq("blk"), 9, 10, maxCandidates = 100L))
    assert(ec.getMessage.contains("maxCandidates"), ec.getMessage)
    // The mass is censused per BLOCK key: the same tokens split across 40
    // blocks carry zero collision mass and must pass the same ceiling.
    val blocked = (0 until 40).map(id => (id.toLong, s"b$id",
      Seq(0L, 100L + id))).toDF("doc_id", "blk", "gr")
    assert(SetSimJoin.jaccardJoin(blocked, "doc_id", "gr", Seq("blk"), 1, 2,
      maxCandidates = 100L).count() == 0L)
    // Long.MaxValue opts out: the saturated input runs (small here, so it
    // completes) and finds the planted near-identical pairs.
    assert(SetSimJoin.jaccardJoin(hot, "doc_id", "gr", Seq("blk"), 1, 2,
      maxCandidates = Long.MaxValue).count() == 0L) // J = 1/3 < 1/2: no pairs
  }

  test("maxCandidates under Packed: the DRIVER-SIDE census (r22 — the mass " +
    "folds over the rows the pack collects) fires the same loud failure at " +
    "the same threshold, and a blocked input passes the same ceiling") {
    // Same fixtures as the test above: C(40,2) = 780 > 100.
    val hot = (0 until 40).map(id => (id.toLong, "a",
      Seq(0L, 100L + id))).toDF("doc_id", "blk", "gr")
    val ej = intercept[IllegalArgumentException](SetSimJoin.jaccardJoin(
      hot, "doc_id", "gr", Seq("blk"), 1, 2, maxCandidates = 100L))
    assert(ej.getMessage.contains("maxCandidates") &&
      ej.getMessage.contains("ΣC(df,2) = 780") &&
      ej.getMessage.contains("capTokenDf"), ej.getMessage)
    val blocked = (0 until 40).map(id => (id.toLong, s"b$id",
      Seq(0L, 100L + id))).toDF("doc_id", "blk", "gr")
    assert(SetSimJoin.jaccardJoin(blocked, "doc_id", "gr", Seq("blk"), 1, 2,
      maxCandidates = 100L).count() == 0L)
  }

  test("maxDf = Some(k) ≡ capTokenDf pre-step + join, and the cap lifts a " +
    "guard-tripping input back under the default ceiling") {
    val g = grams
    val viaKnobJ = pairsOf(SetSimJoin.jaccardJoin(
      g, "doc_id", "gr", Seq("lang", "source"), 3, 5, maxDf = Some(3L)))
    val viaPre = pairsOf(SetSimJoin.jaccardJoin(
      SetSimJoin.capTokenDf(g, "gr", Seq("lang", "source"), 3L, idCol = "doc_id"),
      "doc_id", "gr", Seq("lang", "source"), 3, 5))
    assert(viaKnobJ == viaPre)
    val viaKnobC = cPairsOf(SetSimJoin.containmentJoin(
      g.select($"doc_id", lit("x").as("blk"), $"gr"),
      "doc_id", "gr", Seq("blk"), 9, 10, maxDf = Some(3L)))
    val viaPreC = cPairsOf(SetSimJoin.containmentJoin(
      SetSimJoin.capTokenDf(g.select($"doc_id", lit("x").as("blk"), $"gr"),
        "gr", Seq("blk"), 3L, idCol = "doc_id"),
      "doc_id", "gr", Seq("blk"), 9, 10))
    assert(viaKnobC == viaPreC)
    // A one-hot-token corpus that TRIPS a tiny ceiling uncapped passes it
    // once maxDf removes the saturated token — the single-knob escape path
    // a corpus-wide caller is steered to.
    val hot = (0 until 40).map(id => (id.toLong, "a",
      Seq(0L, 100L + id, 101L + id))).toDF("doc_id", "blk", "gr")
    assertThrows[IllegalArgumentException](SetSimJoin.jaccardJoin(
      hot, "doc_id", "gr", Seq("blk"), 1, 2, maxCandidates = 100L))
    assert(SetSimJoin.jaccardJoin(hot, "doc_id", "gr", Seq("blk"), 1, 2,
      maxDf = Some(10L), maxCandidates = 100L).count() >= 0L)
  }
}
