package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.meta.IndexTables
import graft.operators.{GovernanceOps, MinHashLsh}

class GovernanceOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("forgetDocs: exact anti-join semantics, tombstone side broadcast") {
    val tomb = docs.filter($"doc_id" % 37 === 0).select($"doc_id")
    val retained = GovernanceOps.forgetDocs(docs, "doc_id", tomb, "doc_id")
    val got = retained.select($"doc_id").as[Long].collect().toSet
    val want = docs.filter($"doc_id" % 37 =!= 0)
      .select($"doc_id").as[Long].collect().toSet
    assert(got === want)
    // The corpus side must NOT shuffle: broadcast left-anti, no exchange
    // feeding the corpus scan.
    val plan = retained.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("forgetDocs handles duplicate deletion requests and a different key name") {
    val tomb = Seq(4L, 4L, 8L, 8L, 8L).toDF("req_id")
    val retained = GovernanceOps.forgetDocs(
      docs.filter($"doc_id" < 12), "doc_id", tomb, "req_id")
    assert(retained.select($"doc_id").as[Long].collect().sorted.toSeq ===
      (0L until 12L).filterNot(Set(4L, 8L)).toSeq)
  }

  test("forgetAudit: removed keys only; a purge that mutates rows is surfaced") {
    val before = docs.filter($"doc_id" < 20)
    val tomb = Seq(3L, 7L).toDF("doc_id")
    val after = GovernanceOps.forgetDocs(before, "doc_id", tomb, "doc_id")
    val audit = GovernanceOps.forgetAudit(before, after, Seq("doc_id"))
      .select($"doc_id", $"status").as[(Long, String)].collect().toSet
    assert(audit === Set((3L, "removed"), (7L, "removed")))
    // A "purge" that also edits a surviving row shows up as changed.
    val mutated = after.withColumn("text",
      when($"doc_id" === 5, lit("REDACTED")).otherwise($"text"))
    val bad = GovernanceOps.forgetAudit(before, mutated, Seq("doc_id"))
      .select($"doc_id", $"status").as[(Long, String)].collect().toSet
    assert(bad === Set((3L, "removed"), (7L, "removed"), (5L, "changed")))
  }

  test("forgetFromLshIndex: purged index ≡ from-scratch build on retained docs; " +
      "no forgotten id in probes; plan stays exchange-free") {
    try {
      val corpus = docs.filter($"doc_id" % 4 <= 2)
      val probe = docs.filter($"doc_id" % 4 === 3)
      // Tombstone a corpus slice that includes planted near-dup partners so
      // the purge provably removes probe RESULTS, not just inert rows
      // (%8 == 5 holds several of the fixture's planted partners; %8 ∈
      // {1,4,6} partners survive, so the retained index stays non-trivial).
      val tomb = corpus.filter($"doc_id" % 8 === 5).select($"doc_id")
      val tombIds = tomb.as[Long].collect().toSet
      assert(tombIds.nonEmpty)
      def pairs(name: String) =
        MinHashLsh.lshProbe(spark, probe, "doc_id", "text", name)
          .select("new_id", "corpus_id", "n_common", "n_union")
          .as[(Long, Long, Int, Int)].collect().toSet
      MinHashLsh.saveLshIndex(corpus, "doc_id", "text", "gov_spec_purged",
        numHashes = 32, numBands = 8, buckets = 4)
      val preForget = pairs("gov_spec_purged")
      assert(preForget.exists(p => tombIds(p._2)),
        "fixture must plant near-dups inside the tombstoned slice")
      GovernanceOps.forgetFromLshIndex(spark, "gov_spec_purged", tomb, "doc_id")
      val purged = pairs("gov_spec_purged")
      // No forgotten id can surface from the purged index...
      assert(purged.forall(p => !tombIds(p._2)))
      // ...and the purged index state equals a from-scratch build on the
      // retained corpus — row-identical probes.
      MinHashLsh.saveLshIndex(
        GovernanceOps.forgetDocs(corpus, "doc_id", tomb, "doc_id"),
        "doc_id", "text", "gov_spec_scratch", numHashes = 32, numBands = 8,
        buckets = 4)
      assert(purged === pairs("gov_spec_scratch"))
      assert(purged.nonEmpty, "retained corpus must still hold near-dups")
      // Bucket spec survived the purge rewrite; probe plan still reads the
      // corpus co-located (no exchange over either index table).
      val spec = IndexTables.bucketSpec(spark, "gov_spec_purged_bands")
      assert(spec.exists(s => s.numBuckets == 4 &&
        s.bucketColumnNames == Seq("band", "band_key")))
      val plan = MinHashLsh.lshProbe(spark, probe, "doc_id", "text",
        "gov_spec_purged").queryExecution.executedPlan.toString
      val badExchange = "(?s)Exchange hashpartitioning[^\\n]*\\n[^E]*gov_spec_purged".r
      assert(badExchange.findFirstIn(plan).isEmpty,
        s"corpus-side exchange after purge:\n$plan")
    } finally dropTables("gov_spec_purged_bands", "gov_spec_purged_sets",
      "gov_spec_scratch_bands", "gov_spec_scratch_sets")
  }

  test("forgetFromIvfIndex: purged search ≡ from-scratch build on retained " +
      "vectors; no forgotten neighbor") {
    try {
      import graft.operators.VectorOps
      val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val centroids = e.filter($"vec_id" < 10)
      val queries = e.filter($"vec_id".between(100, 109))
      def search(name: String) =
        VectorOps.ivfSearchLoaded(VectorOps.loadIvfIndex(spark, name),
          queries, "vec_id", "embedding", k = 3, nProbe = 2)
          .select($"query_id", $"rank", $"neighbor_id")
          .as[(Long, Long, Long)].collect().toSet
      VectorOps.saveIvfIndex(e, centroids, "vec_id", "embedding",
        "gov_spec_ivf", buckets = 4)
      // Tombstone three vectors that ARE current search results, so the
      // purge provably removes answers, not inert rows.
      val tombIds = search("gov_spec_ivf").map(_._3).take(3)
      assert(tombIds.nonEmpty)
      val tomb = tombIds.toSeq.toDF("vec_id")
      GovernanceOps.forgetFromIvfIndex(spark, "gov_spec_ivf", tomb, "vec_id")
      val purged = search("gov_spec_ivf")
      assert(purged.forall(r => !tombIds(r._3)))
      VectorOps.saveIvfIndex(
        GovernanceOps.forgetDocs(e, "vec_id", tomb, "vec_id"), centroids,
        "vec_id", "embedding", "gov_spec_ivf_scratch", buckets = 4)
      assert(purged === search("gov_spec_ivf_scratch"))
      assert(purged.nonEmpty)
    } finally dropTables("gov_spec_ivf_centroids", "gov_spec_ivf_members",
      "gov_spec_ivf_scratch_centroids", "gov_spec_ivf_scratch_members")
  }

  test("forgetFromIvfPqIndex: purged probe ≡ from-scratch encode of " +
      "retained vectors; no forgotten neighbor in the codes tier") {
    try {
      import graft.operators.VectorOps
      val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val centroids = e.filter($"vec_id" < 10)
      val queries = e.filter($"vec_id".between(100, 109))
      val res8 = VectorOps.ivfResiduals(
        e.filter($"vec_id".between(20, 27)), "vec_id", "embedding", centroids)
      val cbs = res8.select(explode(array(
          struct(lit(0).as("sub"), $"id".as("cid"), slice($"rvec", 1, 32).as("cvec")),
          struct(lit(1).as("sub"), $"id".as("cid"), slice($"rvec", 33, 32).as("cvec")))).as("cb"))
        .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
      def probe(name: String) =
        VectorOps.ivfPqSearchLoaded(VectorOps.loadIvfPqIndex(spark, name),
          queries, "vec_id", "embedding", m = 2, dim = 64, k = 5, nProbe = 3)
          .select($"query_id", $"rank".cast("long"), $"neighbor_id")
          .as[(Long, Long, Long)].collect().toSet
      VectorOps.saveIvfPqIndex(e, centroids, "vec_id", "embedding", cbs,
        m = 2, dim = 64, "gov_spec_ivfpq", buckets = 4)
      // Tombstone vectors that ARE current probe results, so the purge
      // provably removes answers, not inert rows.
      val tombIds = probe("gov_spec_ivfpq").map(_._3).take(3)
      assert(tombIds.nonEmpty)
      val tomb = tombIds.toSeq.toDF("vec_id")
      GovernanceOps.forgetFromIvfPqIndex(spark, "gov_spec_ivfpq", tomb, "vec_id")
      val purged = probe("gov_spec_ivfpq")
      assert(purged.forall(r => !tombIds(r._3)))
      VectorOps.saveIvfPqIndex(
        GovernanceOps.forgetDocs(e, "vec_id", tomb, "vec_id"), centroids,
        "vec_id", "embedding", cbs, m = 2, dim = 64,
        "gov_spec_ivfpq_scratch", buckets = 4)
      assert(purged === probe("gov_spec_ivfpq_scratch"))
      assert(purged.nonEmpty)
    } finally dropTables(Seq("gov_spec_ivfpq", "gov_spec_ivfpq_scratch")
      .flatMap(n => Seq(s"${n}_centroids", s"${n}_codebooks", s"${n}_codes")): _*)
  }

  test("expirePartitions: metadata-only — survivors' files untouched byte-for-byte") {
    val root = java.nio.file.Files
      .createTempDirectory("gov_ttl_spec").toString
    val d = Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 11L, "c"),
      (4L, 12L, "d"), (5L, 13L, "e")).toDF("id", "day", "payload")
    graft.operators.ScaleJoins.writePartitioned(d, root, Seq("day"))
    def listing(p: String): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(q: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
        val st = fs.listStatus(q)
        st.filter(_.isFile).toSeq ++ st.filter(_.isDirectory).flatMap(s => walk(s.getPath))
      }
      walk(new org.apache.hadoop.fs.Path(p))
        .map(st => st.getPath.toString -> ((st.getLen, st.getModificationTime)))
        .toMap
    }
    val before = listing(root)
    val dropped = GovernanceOps.expirePartitions(spark, root, "day",
      v => v.toLong >= 12L)
    assert(dropped === Seq("10", "11"))
    val after = listing(root)
    // every surviving data file is the SAME file: path, length, mtime —
    // the sweep never rewrote anything
    val survivors = before.filter { case (p, _) =>
      p.contains("day=12") || p.contains("day=13") }
    assert(after.filter(_._1.contains("day=1")) == survivors)
    assert(!after.keys.exists(p => p.contains("day=10") || p.contains("day=11")))
    // content = the filtered base
    val got = graft.operators.ScaleJoins.readPartitioned(spark, root)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(got === Seq(4L, 5L))
    // second sweep with the same predicate is a no-op
    assert(GovernanceOps.expirePartitions(spark, root, "day",
      v => v.toLong >= 12L).isEmpty)
  }

  test("anonymityRisk: hand-built groups flag exactly the k- and l-violations") {
    // g1: 3 rows, 3 distinct sensitive → k-risk only (size < 4).
    // g2: 5 rows, 1 distinct → l-risk only (diversity < 2).
    // g3: 5 rows, 3 distinct → clean, must not appear.
    val d = Seq(
      ("g1", 10L), ("g1", 11L), ("g1", 12L),
      ("g2", 20L), ("g2", 20L), ("g2", 20L), ("g2", 20L), ("g2", 20L),
      ("g3", 30L), ("g3", 31L), ("g3", 32L), ("g3", 30L), ("g3", 31L))
      .toDF("qi", "sens")
    val got = GovernanceOps.anonymityRisk(d, Seq("qi"), "sens", k = 4, l = 2)
      .as[(String, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.keySet === Set("g1", "g2"))
    assert(got("g1") == ((3L, 3L, true, false)))
    assert(got("g2") == ((5L, 1L, false, true)))
  }

  test("anonymityRiskFromCounts over pre-aggregated cells ≡ anonymityRisk " +
    "on raw rows; NULL sensitive rows link but add no diversity") {
    val rnd = new scala.util.Random(2718)
    val rows = Seq.tabulate(400) { i =>
      (s"q${i % 17}", if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(6).toLong))
    }
    val d = rows.toDF("qi", "sens")
    val cells = d.groupBy($"qi", $"sens").agg(count(lit(1)).as("c"))
    // 400 rows over 17 groups: sizes 23/24, so k = 24 flags the 23-row
    // groups; l = 6 flags any group missing one of the 6 values non-null.
    val viaCounts = GovernanceOps
      .anonymityRiskFromCounts(cells, Seq("qi"), "sens", "c", k = 24, l = 6)
      .orderBy($"qi")
      .as[(String, Long, Long, Boolean, Boolean)].collect().toSeq
    val viaRows = GovernanceOps.anonymityRisk(d, Seq("qi"), "sens", k = 24, l = 6)
      .orderBy($"qi")
      .as[(String, Long, Long, Boolean, Boolean)].collect().toSeq
    assert(viaCounts == viaRows && viaCounts.nonEmpty)

    // All-null sensitive: group_size counts the rows, n_sensitive is 0.
    val nul = Seq(("gn", Option.empty[Long]), ("gn", Option.empty[Long]))
      .toDF("qi", "sens")
    val got = GovernanceOps.anonymityRisk(nul, Seq("qi"), "sens", k = 2, l = 1)
      .as[(String, Long, Long, Boolean, Boolean)].collect().toSeq
    assert(got == Seq(("gn", 2L, 0L, false, true)))
  }

  test("expirePartitions refuses a path with no matching partition dirs") {
    val root = java.nio.file.Files
      .createTempDirectory("gov_ttl_flat").toString
    Seq((1L, "x")).toDF("id", "v").write.mode("overwrite").parquet(root)
    val e = intercept[IllegalArgumentException] {
      GovernanceOps.expirePartitions(spark, root, "day", _ => true)
    }
    assert(e.getMessage.contains("partition directories"))
  }

  test("pseudonymize: deterministic, join-preserving, NULL-safe, salt-sensitive") {
    import spark.implicits._
    val d = Seq((Some(7L), "a"), (Some(7L), "b"), (Some(9L), "c"), (None, "d"))
      .toDF("uid", "payload")
    val p1 = GovernanceOps.pseudonymize(d, Seq("uid"), "salt-A")
      .as[(Option[Long], String)].collect()
    // same input -> same token (grouping survives); raw ids gone
    val toks = p1.filter(_._2 != "d").map(_._1.get)
    assert(toks.distinct.length == 2)
    assert(p1.filter(r => r._2 == "a" || r._2 == "b").map(_._1).distinct.length == 1)
    assert(!toks.contains(7L) && !toks.contains(9L))
    // NULL stays NULL — no fabricated entity
    assert(p1.find(_._2 == "d").get._1.isEmpty)
    // rotating the salt unlinks: tokens differ under a new salt
    val p2 = GovernanceOps.pseudonymize(d, Seq("uid"), "salt-B")
      .as[(Option[Long], String)].collect()
    assert(p1.find(_._2 == "a").get._1 != p2.find(_._2 == "a").get._1)
    assertThrows[IllegalArgumentException](
      GovernanceOps.pseudonymize(d, Seq.empty, "s"))
    assertThrows[IllegalArgumentException](
      GovernanceOps.pseudonymize(d, Seq("uid"), ""))
  }

  test("tCloseness: hand-computed TVD, absent-value closed form, risk flag") {
    import spark.implicits._
    // Global sv counts: x=4, y=4 (N=8). Group A = {x,x,x,x} (n=4):
    //   TVD = ½(|4/4 − 4/8| + |0/4 − 4/8|) = ½(½ + ½) = ½ — y is ABSENT
    //   from A, so its mass must enter via the closed form.
    //   t_num = Σ|c·N − C·n| = |4·8 − 4·4| + |0·8 − 4·4| = 16 + 16 = 32;
    //   t = 32 / (2·4·8) = 0.5.
    // Group B = {y,y,y,y,x,x... } — use B = {x,x,y,y... }? Keep B = the
    // complement {y,y,y,y} (n=4): symmetric, t = 0.5 as well. Add C with
    // the global mix {x,y} (n=2): t = 0.
    val d = (Seq.fill(4)(("A", "x")) ++ Seq.fill(3)(("B", "y")) ++
      Seq(("C", "x"), ("C", "y"))).toDF("qi", "sv")
    // Global: x=5, y=4, N=9. A: n=4, t_num=|4·9−5·4|+|0−4·4|=16+16=32,
    //   t = 32/72 = 4/9 ≈ 0.444. B: n=3, t_num=|0−5·3|+|3·9−4·3|=15+15=30,
    //   t = 30/54 = 5/9 ≈ 0.556. C: n=2, t_num=|1·9−5·2|+|1·9−4·2|=1+1=2,
    //   t = 2/36 = 1/18 ≈ 0.056.
    val got = GovernanceOps.tCloseness(d, Seq("qi"), "sv", tNum = 1, tDen = 2)
      .as[(String, Long, String, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 4L, "32", 32.0 / 72.0, false)))
    assert(got("B") == (("B", 3L, "30", 30.0 / 54.0, true)), s"got ${got("B")}")
    assert(got("C") == (("C", 2L, "2", 2.0 / 36.0, false)))
  }

  test("tCloseness keeps NULL sensitive values and NULL quasi-identifier groups") {
    import spark.implicits._
    // Global: sv 1 -> 2, NULL -> 1, 2 -> 1 (N = 4). Group a = {1,1,NULL}
    // (n=3): t_num = |2·4−2·3| + |1·4−1·3| + closed form 3·(4−3) = 2+1+3=6,
    // t = 6/(2·3·4) = 0.25. Group NULL = {2} (n=1): |1·4−1·1| + 1·(4−1) = 6,
    // t = 6/(2·1·4) = 0.75. Plain equi-joins would drop the NULL sv row's
    // mass from group a AND the whole NULL-qi group (r16 ADVICE).
    val d = Seq((Some("a"), Some(1)), (Some("a"), Some(1)), (Some("a"), None),
      (Option.empty[String], Some(2))).toDF("qi", "sv")
    val got = GovernanceOps.tCloseness(d, Seq("qi"), "sv", tNum = 1, tDen = 2)
      .as[(Option[String], Long, String, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.size == 2, got.toString)
    assert(got(Some("a")) == ((Some("a"), 3L, "6", 0.25, false)), got.toString)
    assert(got(None) == ((None, 1L, "6", 0.75, true)), got.toString)
  }

  test("tCloseness ≡ driver-side TVD reference on the events fixture frame") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/events.parquet")
      .select($"event_type".as("qi"), ($"user_id" % 7).cast("string").as("sv"))
    val rows = e.as[(String, String)].collect()
    val n = rows.length.toLong
    val globalC = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = GovernanceOps.tCloseness(e, Seq("qi"), "sv", 1, 4)
      .as[(String, Long, String, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val ng = grp.length.toLong
      val cs = grp.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val tNum = globalC.keysIterator.map { v =>
        (BigInt(cs.getOrElse(v, 0L)) * n - BigInt(globalC(v)) * ng).abs
      }.sum
      val (_, gs, pin, t, risk) = got(g)
      assert(gs == ng && BigInt(pin) == tNum, g)
      val expT = java.lang.Double.parseDouble(tNum.toString) /
        (2.0 * ng.toDouble * n.toDouble)
      assert(t == expT, g)
      assert(risk ==
        (java.lang.Double.parseDouble(tNum.toString) * 4.0 >
          2.0 * ng.toDouble * n.toDouble), g)
    }
  }

}
