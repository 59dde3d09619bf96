package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.meta.IndexTables
import graft.operators.{GovernanceOps, VectorOps}

class VectorOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (1L, Array(0f, 1f, 0f)),
    (2L, Array(1f, 1f, 0f)),
    (3L, Array(-1f, 0f, 0f)),
    (4L, Array(0.9f, 0.1f, 0f))).toDF("vec_id", "embedding")

  test("cosine: identity, orthogonality, sign") {
    val c = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, v) => (i, j) -> v }.toMap
    assert(math.abs(c(0L -> 0L) - 1.0) < 1e-15)
    assert(math.abs(c(0L -> 1L)) < 1e-15)
    assert(math.abs(c(0L -> 3L) + 1.0) < 1e-15)
    assert(c(0L -> 4L) > c(0L -> 2L)) // closer direction wins
  }

  test("topK ranks by cosine desc with id tiebreak and excludes self") {
    val top = VectorOps.topK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 3)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(top.map(_._2).toSeq === Seq(4L, 2L, 1L))
  }

  test("topKL2 ranks by squared distance asc; agrees with a driver-side scan") {
    val top = VectorOps.topKL2(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 4)
      .select("rank", "neighbor_id", "dist2").as[(Int, Long, Double)].collect().sortBy(_._1)
    val v = Seq(0L -> Seq(1.0, 0, 0), 1L -> Seq(0.0, 1, 0), 2L -> Seq(1.0, 1, 0),
      3L -> Seq(-1.0, 0, 0), 4L -> Seq(0.9000000357627869, 0.10000000149011612, 0)).toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.map(x => x * x).sum + b.map(x => x * x).sum - 2.0 * a.zip(b).map { case (x, y) => x * y }.sum
    val brute = (1L to 4L).map(i => i -> d2(v(0L), v(i))).sortBy { case (id, d) => (d, id) }
    assert(top.map(_._2).toSeq == brute.map(_._1))
    // closest by L2 is the (0.9, 0.1) vector, farthest the antipode
    assert(top.head._2 == 4L && top.last._2 == 3L)
  }

  test("rrfFuse sums 1/(k+rank) across lists and re-ranks; order-deterministic fold") {
    def ranking(rows: (Long, Int, Long)*) =
      rows.toSeq.toDF("query_id", "rank", "neighbor_id")
    // query 0: neighbor 10 is rank 1 in A only; neighbor 11 is rank 2 in
    // BOTH lists — two mid terms beat one top term: 2/62 > 1/61.
    val a = ranking((0L, 1, 10L), (0L, 2, 11L))
    val b = ranking((0L, 1, 12L), (0L, 2, 11L))
    val got = VectorOps.rrfFuse(Seq(a, b), topN = 3)
      .select("rrf_rank", "neighbor_id", "rrf_score", "n_lists")
      .as[(Int, Long, Double, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(11L, 10L, 12L))
    assert(got.head._4 == 2L && got(1)._4 == 1L)
    assert(got.head._3 == 1.0 / 62 + 1.0 / 62)
    // ties (10 and 12 both score 1/61) break on neighbor id
    assert(got(1)._2 < got(2)._2 && got(1)._3 == got(2)._3)
    // three lists: the sorted-fold keeps the sum deterministic — repeated
    // runs (different shuffle orders) must produce identical doubles
    val c = ranking((0L, 1, 11L), (0L, 3, 10L))
    val s1 = VectorOps.rrfFuse(Seq(a, b, c), topN = 5)
      .select("neighbor_id", "rrf_score").as[(Long, Double)].collect().toMap
    val s2 = VectorOps.rrfFuse(Seq(c, b, a), topN = 5)
      .select("neighbor_id", "rrf_score").as[(Long, Double)].collect().toMap
    assert(s1 == s2, "fused scores must not depend on list order")
    // sorted ascending fold: (1/62 + 1/62) first, then 1/61
    assert(s1(11L) == (1.0 / 62 + 1.0 / 62) + 1.0 / 61)
  }

  test("ivf search returns brute-force results when every cluster is probed") {
    val centroids = vecs.filter($"vec_id".isin(0L, 1L))
    val queries = vecs.filter($"vec_id" === 4)
    val index = VectorOps.ivfAssign(vecs, centroids, "vec_id", "embedding")
    val ivf = VectorOps.ivfSearch(index, vecs, queries, "vec_id", "embedding", k = 4, nProbe = 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    val brute = VectorOps.topK(vecs, queries, "vec_id", "embedding", 4)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(ivf.toSeq === brute.toSeq)
  }

  test("ivf assignment puts every vector in its nearest centroid's cluster") {
    val centroids = vecs.filter($"vec_id".isin(0L, 1L))
    val asg = VectorOps.ivfAssign(vecs, centroids, "vec_id", "embedding")
      .assignments.as[(Long, Long)].collect().toMap
    assert(asg(0L) === 0L && asg(4L) === 0L) // +x family
    assert(asg(1L) === 1L)
    assert(asg(3L) === 1L) // (-1,0,0): cos -1 to +x, 0 to +y — nearer +y
  }

  test("kmeans: one step moves seed centroids to exact cluster means; assignments stabilize") {
    // Two tight clusters around +x and +y; seeds are off-center members.
    val pts = Seq(
      (0L, Seq(10.0f, 0.5f, 0.0f)), (1L, Seq(9.0f, -0.5f, 0.0f)), (2L, Seq(11.0f, 0.0f, 0.0f)),
      (3L, Seq(0.5f, 10.0f, 0.0f)), (4L, Seq(-0.5f, 9.0f, 0.0f)), (5L, Seq(0.0f, 11.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val seeds = pts.filter($"vec_id".isin(0L, 3L))
    val c1 = VectorOps.kmeans(pts, seeds, "vec_id", "embedding", iters = 1)
      .as[(Long, Seq[Double])].collect().toMap
    // cluster 0 = mean of points 0,1,2; cluster 3 = mean of points 3,4,5
    assert(c1(0L).zip(Seq(10.0, 0.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(c1(3L).zip(Seq(0.0, 10.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // a second iteration is a fixed point (assignments unchanged)
    val c2 = VectorOps.kmeans(pts, seeds, "vec_id", "embedding", iters = 2)
      .as[(Long, Seq[Double])].collect().toMap
    assert(c1.keySet == c2.keySet &&
      c1.forall { case (k, v) => v.zip(c2(k)).forall { case (a, b) => math.abs(a - b) < 1e-9 } })
  }

  test("kmeans: a cluster that captures nothing keeps its previous centroid") {
    val pts = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.1f))).toDF("vec_id", "embedding")
    // second seed is anti-aligned: nothing assigns to it
    val seeds = Seq((100L, Seq(1.0f, 0.0f)), (200L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = VectorOps.kmeans(pts, seeds, "vec_id", "embedding", iters = 1)
      .as[(Long, Seq[Double])].collect().toMap
    assert(c(200L) == Seq(-1.0, 0.0), "empty cluster must keep its seed centroid")
  }

  test("trainPqCodebooksInt: exact integer Lloyd — hand-checkable means, " +
    "iters=0 = quantized seeds, empty codeword keeps its seed, " +
    "re-run bit-identical") {
    // One subspace (m=1, dim=2) with two obvious groups; seeds inside each.
    val pts = Seq(
      (0L, Seq(0.10, 0.20)), (1L, Seq(0.12, 0.20)), (2L, Seq(0.14, 0.20)),
      (3L, Seq(0.90, 0.40)), (4L, Seq(0.92, 0.40))).toDF("id", "rvec")
    val seeds = Seq((0, 10L, Seq(0.10, 0.20)), (0, 20L, Seq(0.90, 0.40)),
      (0, 30L, Seq(-5.0, -5.0))) // captures nothing
      .toDF("sub", "cid", "cvec")
    val got = VectorOps.trainPqCodebooksInt(pts, "rvec", seeds,
        m = 1, dim = 2, iters = 1)
      .as[(Int, Long, Seq[Double])].collect().map(r => (r._2, r._3)).toMap
    // e4 grid: group means are floor((1000+1200+1400)/3)=1200 → 0.12 etc.
    assert(got(10L) == Seq(0.12, 0.2), s"got ${got(10L)}")
    assert(got(20L) == Seq(0.91, 0.4), s"got ${got(20L)}") // floor(18200/2)/1e4
    assert(got(30L) == Seq(-5.0, -5.0), "empty codeword must keep its seed")
    // iters = 0 returns the quantized seeds verbatim (the 'seed' tier of
    // q_ivfpq_trained).
    val id0 = VectorOps.trainPqCodebooksInt(pts, "rvec", seeds,
        m = 1, dim = 2, iters = 0)
      .as[(Int, Long, Seq[Double])].collect().map(r => (r._2, r._3)).toMap
    assert(id0(10L) == Seq(0.1, 0.2) && id0(30L) == Seq(-5.0, -5.0))
    // Determinism: an independent re-run lands bit-identical (the property
    // the DuckDB unrolled-CTE oracle stands on).
    val again = VectorOps.trainPqCodebooksInt(pts, "rvec", seeds,
        m = 1, dim = 2, iters = 1)
      .as[(Int, Long, Seq[Double])].collect().map(r => (r._2, r._3)).toMap
    assert(again == got)
  }

  test("IVF round-trip: saved+loaded search == in-session search, member side unshuffled") {
    def cleanup(): Unit = dropTables("ivf_rt_members", "ivf_rt_centroids")
    cleanup()
    try {
      val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val centroids = e.filter($"vec_id" < 10)
      val queries = e.filter($"vec_id".between(100, 109))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

      val inSession = rows(VectorOps.ivfSearch(
        VectorOps.ivfAssign(e, centroids, "vec_id", "embedding"),
        e, queries, "vec_id", "embedding", k = 3, nProbe = 2))

      VectorOps.saveIvfIndex(e, centroids, "vec_id", "embedding", "ivf_rt", buckets = 4)
      val loaded = VectorOps.loadIvfIndex(spark, "ivf_rt")
      val fromDisk = VectorOps.ivfSearchLoaded(loaded, queries, "vec_id", "embedding",
        k = 3, nProbe = 2)
      // Bit-identical, cos doubles included: the persisted vnn is the same
      // strict-fold double the in-session path computes.
      assert(rows(fromDisk) === inSession)
      assert(inSession.nonEmpty)

      // The reuse story's plan proof: members are read as a bucketed scan and
      // reach the probe joins with NO shuffle — the only hash exchanges in the
      // whole loaded plan are the slim (query_id[, salt]) top-k windows.
      val p = fromDisk.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount"), s"members must be a bucketed scan:\n$p")
      assert(!p.contains("Exchange hashpartitioning(cluster_id"),
        s"member side must not shuffle on cluster_id:\n$p")
      assert(!p.contains("Exchange hashpartitioning(neighbor_id"),
        s"member side must not shuffle on neighbor_id:\n$p")
    } finally cleanup()
  }

  /** m = 2 seed codebooks: the residuals of vec_ids 20–27, each split
    * into two 32-wide sub-codewords.
    */
  private def seedCodebooks(e: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame) =
    VectorOps.ivfResiduals(
        e.filter($"vec_id".between(20, 27)), "vec_id", "embedding", centroids)
      .select(explode(array(
        struct(lit(0).as("sub"), $"id".as("cid"), slice($"rvec", 1, 32).as("cvec")),
        struct(lit(1).as("sub"), $"id".as("cid"), slice($"rvec", 33, 32).as("cvec")))).as("cb"))
      .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))

  test("IVF-PQ index round-trip: saved+appended+loaded probe == in-session " +
    "search; codes scan bucketed, no raw vectors in the loaded plan") {
    def cleanup(): Unit =
      dropTables("ivfpq_rt_codes", "ivfpq_rt_centroids", "ivfpq_rt_codebooks")
    cleanup()
    try {
      val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val centroids = e.filter($"vec_id" < 10)
      val queries = e.filter($"vec_id".between(100, 109))
      val cbs = seedCodebooks(e, centroids)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val inSession = rows(VectorOps.ivfPqSearch(
        VectorOps.ivfPqEncode(e, "vec_id", "embedding", centroids, cbs, m = 2, dim = 64),
        centroids, queries, "vec_id", "embedding", cbs, m = 2, dim = 64,
        k = 5, nProbe = 3))
      // Build on the even half, append the odd half in two batches — the
      // appends must encode with the PERSISTED centroids/codebooks (m and
      // subspace width inferred from the codebook table).
      VectorOps.saveIvfPqIndex(e.filter($"vec_id" % 2 === 0), centroids,
        "vec_id", "embedding", cbs, m = 2, dim = 64, "ivfpq_rt", buckets = 4)
      VectorOps.appendToIvfPqIndex(spark, e.filter($"vec_id" % 4 === 1),
        "vec_id", "embedding", "ivfpq_rt")
      VectorOps.appendToIvfPqIndex(spark, e.filter($"vec_id" % 4 === 3),
        "vec_id", "embedding", "ivfpq_rt")
      val fromDisk = VectorOps.ivfPqSearchLoaded(
        VectorOps.loadIvfPqIndex(spark, "ivfpq_rt"), queries,
        "vec_id", "embedding", m = 2, dim = 64, k = 5, nProbe = 3)
      assert(rows(fromDisk) === inSession)
      assert(inSession.nonEmpty)
      // The 1 + m LONG story's proof: the codes side is a bucketed scan,
      // never shuffled on its keys, and the index table holds ONLY the
      // code columns — no raw vectors exist anywhere in the index.
      val p = fromDisk.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount"), s"codes must be a bucketed scan:\n$p")
      assert(!p.contains("Exchange hashpartitioning(cluster_id"),
        s"codes side must not shuffle on cluster_id:\n$p")
      assert(spark.table("ivfpq_rt_codes").schema.map(_.name).toSet ==
        Set("id", "cluster_id", "sub", "code"),
        "the index stores 1 + m longs per member and nothing else")
      // The stateless probe-emission path (row-local literal-centroid
      // probe rank + stream-static joins) closed by ivfPqCloseFromParts
      // must land bit-identically on the loaded search — the equality the
      // q_stream_ivfpq_probe gate pins through a real stream; here the
      // same operators run on a batch frame, pinning it suite-side too.
      val viaEmissions = rows(VectorOps.ivfPqCloseFromParts(
        VectorOps.ivfPqProbeEmissions(spark, queries, "vec_id", "embedding",
          "ivfpq_rt", m = 2, dim = 64, nProbe = 3),
        m = 2, k = 5))
      assert(viaEmissions === inSession)
    } finally cleanup()
  }

  test("refreshIvfPqIndex: in-place retrain+rewrite == from-scratch rebuild " +
    "with the trained codebooks; bucket layout survives the rewrite") {
    val tables = Seq("ivfpq_rf", "ivfpq_rf2")
      .flatMap(n => Seq(s"${n}_codes", s"${n}_centroids", s"${n}_codebooks"))
    def cleanup(): Unit = dropTables(tables: _*)
    cleanup()
    try {
      val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val centroids = e.filter($"vec_id" < 10)
      val seeds = seedCodebooks(e, centroids)
      // Life cycle: build on the even half with SEED codebooks, append the
      // odd half, refresh (retrain 2 rounds on the full corpus + rewrite).
      VectorOps.saveIvfPqIndex(e.filter($"vec_id" % 2 === 0), centroids,
        "vec_id", "embedding", seeds, m = 2, dim = 64, "ivfpq_rf", buckets = 4)
      VectorOps.appendToIvfPqIndex(spark, e.filter($"vec_id" % 2 === 1),
        "vec_id", "embedding", "ivfpq_rf")
      VectorOps.refreshIvfPqIndex(spark, e, "vec_id", "embedding", "ivfpq_rf",
        iters = 2)
      // The equality that makes refresh a true in-place retrain: identical
      // state to a from-scratch build with the independently-trained
      // codebooks — no stale codes, no dropped appends, no trainer drift.
      val res = VectorOps.ivfResiduals(e, "vec_id", "embedding", centroids)
      val trained = VectorOps.trainPqCodebooksInt(res, "rvec", seeds,
        m = 2, dim = 64, iters = 2)
      VectorOps.saveIvfPqIndex(e, centroids, "vec_id", "embedding", trained,
        m = 2, dim = 64, "ivfpq_rf2", buckets = 4)
      def tset(t: String) = spark.table(t).collect().map(_.toSeq).toSet
      assert(tset("ivfpq_rf_codes") === tset("ivfpq_rf2_codes"))
      assert(tset("ivfpq_rf_codes").nonEmpty)
      assert(tset("ivfpq_rf_codebooks") === tset("ivfpq_rf2_codebooks"))
      // Training moved the codebooks — a refresh that silently no-ops
      // (e.g. re-persisting the seeds) must fail here.
      val seedQuantized = VectorOps.trainPqCodebooksInt(res, "rvec", seeds,
        m = 2, dim = 64, iters = 0)
      assert(tset("ivfpq_rf_codebooks") !==
        seedQuantized.collect().map(_.toSeq).toSet)
      // The rewrite preserved the catalog bucket layout: the probe is
      // still a bucketed scan with no cluster_id exchange.
      val fromDisk = VectorOps.ivfPqSearchLoaded(
        VectorOps.loadIvfPqIndex(spark, "ivfpq_rf"),
        e.filter($"vec_id".between(100, 109)),
        "vec_id", "embedding", m = 2, dim = 64, k = 3, nProbe = 2)
      val p = fromDisk.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount"), s"codes must stay bucketed:\n$p")
      assert(!p.contains("Exchange hashpartitioning(cluster_id"),
        s"codes side must not shuffle on cluster_id:\n$p")
      assert(fromDisk.count() > 0)
      // Refresh-epoch protocol: a completed refresh stamps
      // MATCHING epochs into codebooks and codes; a mismatch — the state a
      // crash between the two overwrites leaves — must make load fail
      // loudly instead of silently serving old codes with new codebooks.
      VectorOps.requireIvfPqEpochsMatch(spark, "ivfpq_rf")
      IndexTables.setProperties(spark, "ivfpq_rf_codebooks",
        Map("refresh_epoch" -> "99"))
      val ex = intercept[IllegalArgumentException](
        VectorOps.loadIvfPqIndex(spark, "ivfpq_rf"))
      assert(ex.getMessage.contains("PARTIALLY REFRESHED"))
      // A never-refreshed save/append index carries no epochs — loads fine.
      VectorOps.requireIvfPqEpochsMatch(spark, "ivfpq_rf2")
    } finally cleanup()
  }

  /** Builds `name` (m = 2, 4 buckets) with seed codebooks on the even
    * vec_ids, appends the odd ones and refreshes the codebooks once: codes
    * and codebooks both carry refresh epoch 1.
    */
  private def refreshedIvfPqIndex(name: String): Unit = {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = e.filter($"vec_id" < 10)
    VectorOps.saveIvfPqIndex(e.filter($"vec_id" % 2 === 0), centroids,
      "vec_id", "embedding", seedCodebooks(e, centroids), m = 2, dim = 64, name,
      buckets = 4)
    VectorOps.appendToIvfPqIndex(spark, e.filter($"vec_id" % 2 === 1),
      "vec_id", "embedding", name)
    VectorOps.refreshIvfPqIndex(spark, e, "vec_id", "embedding", name, iters = 1)
  }

  private def ivfPqTables(name: String) =
    Seq("codes", "centroids", "codebooks").map(t => s"${name}_$t")

  private def refreshEpochs(name: String) =
    Seq("codebooks", "codes")
      .map(t => IndexTables.properties(spark, s"${name}_$t").get("refresh_epoch"))

  /** (query_id, rank, neighbor_id) of a loaded-index probe. */
  private def ivfPqProbe(name: String) =
    VectorOps.ivfPqSearchLoaded(VectorOps.loadIvfPqIndex(spark, name),
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .filter($"vec_id".between(100, 109)),
        "vec_id", "embedding", m = 2, dim = 64, k = 3, nProbe = 2)
      .select($"query_id", $"rank".cast("long"), $"neighbor_id")
      .as[(Long, Long, Long)].collect().toSet

  test("refreshIvfPqIndex then compacting the codes: the index still loads " +
      "with matching epochs and probes unchanged") {
    val name = "ivfpq_rfc"
    dropTables(ivfPqTables(name): _*)
    try {
      refreshedIvfPqIndex(name)
      assert(refreshEpochs(name) === Seq(Some("1"), Some("1")))
      val before = ivfPqProbe(name)
      assert(before.nonEmpty)
      val (_, filesAfter) = IndexTables.compact(spark, s"${name}_codes")
      assert(filesAfter <= 4)
      // The compaction's table swap carries the codes' epoch over: a
      // consistent index must not read as PARTIALLY REFRESHED.
      assert(refreshEpochs(name) === Seq(Some("1"), Some("1")))
      assert(ivfPqProbe(name) === before)
    } finally dropTables(ivfPqTables(name): _*)
  }

  test("refreshIvfPqIndex then an RTBF purge of the codes: the index still " +
      "loads with matching epochs and no purged neighbor") {
    val name = "ivfpq_rfp"
    dropTables(ivfPqTables(name): _*)
    try {
      refreshedIvfPqIndex(name)
      val hits = ivfPqProbe(name).map(_._3)
      assert(hits.nonEmpty)
      val tombIds = hits.take(3)
      GovernanceOps.purgeKeysBucketed(spark, s"${name}_codes", "id",
        tombIds.toSeq.toDF("vec_id"), "vec_id")
      assert(refreshEpochs(name) === Seq(Some("1"), Some("1")))
      assert(ivfPqProbe(name).forall(r => !tombIds(r._3)))
      assert(spark.table(s"${name}_codes").filter($"id".isin(tombIds.toSeq: _*))
        .isEmpty)
    } finally dropTables(ivfPqTables(name): _*)
  }

  test("IVF append: built-then-appended index == built-at-once, bucketed scan survives") {
    def cleanup(): Unit = dropTables("ivf_ap_members", "ivf_ap_centroids")
    cleanup()
    try {
      val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val centroids = e.filter($"vec_id" < 10)
      val queries = e.filter($"vec_id".between(100, 109))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

      // Build on evens; the odd half arrives later as an append.
      VectorOps.saveIvfIndex(e.filter($"vec_id" % 2 === 0), centroids,
        "vec_id", "embedding", "ivf_ap", buckets = 4)
      VectorOps.appendToIvfIndex(spark, e.filter($"vec_id" % 2 === 1),
        "vec_id", "embedding", "ivf_ap")
      val appended = VectorOps.ivfSearchLoaded(VectorOps.loadIvfIndex(spark, "ivf_ap"),
        queries, "vec_id", "embedding", k = 3, nProbe = 2)

      val atOnce = rows(VectorOps.ivfSearch(
        VectorOps.ivfAssign(e, centroids, "vec_id", "embedding"),
        e, queries, "vec_id", "embedding", k = 3, nProbe = 2))
      assert(rows(appended) === atOnce)
      assert(atOnce.nonEmpty)
      // Appended files join the same bucket layout: still a bucketed scan,
      // still no member-side shuffle.
      val p = appended.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount"), s"members must stay a bucketed scan:\n$p")
      assert(!p.contains("Exchange hashpartitioning(cluster_id"),
        s"member side must not shuffle on cluster_id:\n$p")
      // The bucket spec is the TABLE's catalog property, not the caller's
      // to restate — appending to a never-built index must
      // fail loudly at spec resolution, not write an unbucketed table.
      intercept[Exception] {
        VectorOps.appendToIvfIndex(spark, e.filter($"vec_id" === 1),
          "vec_id", "embedding", "ivf_never_built")
      }
    } finally cleanup()
  }

  test("saveIvfIndex survives orphan warehouse dirs from a previous JVM") {
    // A crashed/previous JVM leaves the tables' directories with no entry
    // in this session's fresh catalog; saveAsTable then refuses with
    // LOCATION_ALREADY_EXISTS unless the writer clears the orphan — for the
    // unbucketed centroids table as much as the bucketed members.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    Seq("ivf_orph_members", "ivf_orph_centroids").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val d = new java.io.File(s"spark-warehouse/$tbl")
      d.mkdirs()
      java.nio.file.Files.writeString(d.toPath.resolve("stale.parquet"), "junk")
    }
    try {
      VectorOps.saveIvfIndex(e, e.filter($"vec_id" < 10),
        "vec_id", "embedding", "ivf_orph", buckets = 4)
      assert(spark.table("ivf_orph_members").count() > 0)
      assert(spark.table("ivf_orph_centroids").count() === 10)
    } finally dropTables("ivf_orph_members", "ivf_orph_centroids")
  }

  test("srpNearDupPairs ≡ brute-force hamming scan on fixture embeddings (pigeonhole)") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(200)
    val planted = e.select(($"vec_id" + 1000000L).as("vec_id"),
      concat(array(element_at($"embedding", 1) * lit(2.0f)),
        slice($"embedding", 2, 63)).as("embedding"))
    val all = e.select($"vec_id", $"embedding").unionByName(planted)
    val sigs = all.select($"vec_id",
      VectorOps.srpSignature($"embedding", 32, 64).as("sig"))
    val brute = sigs.toDF("vec_i", "sig_i").crossJoin(sigs.toDF("vec_j", "sig_j"))
      .filter($"vec_i" < $"vec_j")
      .withColumn("hamming", bit_count($"sig_i".bitwiseXOR($"sig_j")).cast("long"))
      .filter($"hamming" <= 3)
      .select("vec_i", "vec_j", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = VectorOps.srpNearDupPairs(all, "vec_id", "embedding", dim = 64)
      .select("vec_i", "vec_j", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty, "planted ×2-coordinate twins must land within Hamming 3")
  }

  test("sq8 quantization: codes bounded, reconstruction within half a step, zero-vector safe") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(100)
    val rows = e.select($"embedding", VectorOps.sq8Scale($"embedding").as("scale"),
        VectorOps.sq8Codes($"embedding", VectorOps.sq8Scale($"embedding")).as("q"))
      .as[(Seq[Float], Double, Seq[Long])].collect()
    rows.foreach { case (vec, scale, q) =>
      assert(q.forall(c => c >= -127 && c <= 127))
      vec.zip(q).foreach { case (x, c) =>
        // floor(x·s + ½) is within ½ of x·s ⇒ dequant error ≤ ½ step
        assert(math.abs(c / scale - x.toDouble) <= 0.5 / scale + 1e-12)
      }
    }
    val z = Seq((1L, Seq.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val zr = z.select(VectorOps.sq8Scale($"embedding").as("s"),
      VectorOps.sq8Codes($"embedding", VectorOps.sq8Scale($"embedding")).as("q"))
      .as[(Double, Seq[Long])].head()
    assert(zr._1 == 0.0 && zr._2.forall(_ == 0L))
  }

  test("sq8TopK: high recall against the exact inner-product ranking") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 5)
    val approx = VectorOps.sq8TopK(e, queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact MIPS ranking, brute force on the driver.
    val all = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val qs = all.filter(_._1 < 5)
    val exact = qs.flatMap { case (qid, qv) =>
      all.filter(_._1 != qid)
        .map { case (nid, nv) =>
          (nid, qv.zip(nv).map { case (a, b) => a.toDouble * b.toDouble }.sum)
        }
        .sortBy { case (nid, ip) => (-ip, nid) }.take(10)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@10 fell to $recall")
  }

  test("bqTopK: full-corpus shortlist ≡ exact topK; tight shortlist keeps usable recall") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = pairs(VectorOps.topK(e, queries, "vec_id", "embedding", k = 10))
    // With the shortlist covering the whole corpus the rerank IS the exact
    // ranking — the lossless end of the compression dial.
    val full = pairs(VectorOps.bqTopK(e, queries, "vec_id", "embedding",
      dim = 64, k = 10, shortlist = 1 << 20))
    assert(full === exact)
    // The compressed path proper: 1-bit codes, Hamming shortlist of 40.
    val tight = VectorOps.bqTopK(e, queries, "vec_id", "embedding",
        dim = 64, k = 10, shortlist = 40)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map { case (q, _, n) => (q, n) }
    val recall = (tight & exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"BQ recall@10 (shortlist 40) fell to $recall")
  }

  test("mrlTopK: full-corpus shortlist ≡ exact topK; prefix-16 shortlist keeps usable recall") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = pairs(VectorOps.topK(e, queries, "vec_id", "embedding", k = 10))
    val full = pairs(VectorOps.mrlTopK(e, queries, "vec_id", "embedding",
      prefixDim = 16, k = 10, shortlist = 1 << 20))
    assert(full === exact)
    val tight = VectorOps.mrlTopK(e, queries, "vec_id", "embedding",
        prefixDim = 16, k = 10, shortlist = 40)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map { case (q, _, n) => (q, n) }
    val recall = (tight & exactPairs).size.toDouble / exactPairs.size
    // The fixture's embeddings are NOT MRL-trained — signal is uniform
    // across dimensions, so a 16/64 prefix carries ~1/4 of it; measured
    // recall here is 0.42, the technique's LOWER bound regime (MRL-trained
    // embeddings concentrate signal in the prefix by construction). The
    // floor pins the pipeline stays a meaningful shortlist, not noise
    // (random-40-of-199 would land ~0.2).
    assert(recall >= 0.3, s"MRL recall@10 (prefix 16, shortlist 40) fell to $recall")
  }

  test("pqEncode/pqSearch: encode ≡ driver-side argmin; usable recall vs exact MIPS") {
    import org.apache.spark.sql.functions.{array, explode, lit, slice, struct}
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dim = 64
    val cbs = e.filter($"vec_id" < 8).select(explode(array(
        struct(lit(0).as("sub"), $"vec_id".as("cid"), slice($"embedding", 1, 32).as("cvec")),
        struct(lit(1).as("sub"), $"vec_id".as("cid"), slice($"embedding", 33, 32).as("cvec"))))
        .as("cb"))
      .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
    val codes = VectorOps.pqEncode(e, "vec_id", "embedding", cbs, m = 2, dim = dim)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // Driver-side reference argmin over the same (l2, cid) total order.
    val all = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val books = all.filter(_._1 < 8).flatMap { case (cid, v) =>
      Seq((0, cid, v.take(32)), (1, cid, v.drop(32)))
    }
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }
    all.foreach { case (id, v) =>
      for (sub <- 0 to 1) {
        val sv = if (sub == 0) v.take(32) else v.drop(32)
        val expect = books.filter(_._1 == sub)
          .map { case (_, cid, cv) => (l2(sv, cv), cid) }.min._2
        assert(codes((id, sub)) == expect, s"id=$id sub=$sub")
      }
    }
    // Recall against the exact MIPS ranking — 2×8 codewords is a very
    // coarse quantizer, so the bar is "clearly better than random" (5/492
    // random overlap ≈ 1%), not SQ8's 0.9.
    val queries = e.filter($"vec_id" < 5)
    val approx = VectorOps.pqSearch(codes = VectorOps.pqEncode(
        e, "vec_id", "embedding", cbs, m = 2, dim = dim),
        queries, "vec_id", "embedding", cbs, m = 2, dim = dim, k = 10)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qs = all.filter(_._1 < 5)
    val exact = qs.flatMap { case (qid, qv) =>
      all.filter(_._1 != qid)
        .map { case (nid, nv) =>
          (nid, qv.zip(nv).map { case (a, b) => a.toDouble * b.toDouble }.sum)
        }
        .sortBy { case (nid, ip) => (-ip, nid) }.take(10)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"PQ recall@10 fell to $recall (random ≈ 0.02)")
  }

  test("ivfPq: exact-residual codebooks make ADC ≡ q·c + q·r; full probe ≡ MIPS ranking") {
    import org.apache.spark.sql.functions.{array, explode, lit, slice, struct}
    // Tiny synthetic corpus: 2 clusters, 12 vectors, 8 dims. Codebooks hold
    // the EXACT residual of every vector, so encode must pick each vector's
    // own residual (l2 = 0, tie to smallest cid) and the ADC decomposition
    // q·c + Σ q_s·codeword_s collapses to q·c + q·r = q·x up to fold
    // order — making the full-probe ranking equal exact MIPS.
    val vecs = (0 until 12).map { i =>
      (i.toLong, (0 until 8).map(d =>
        (math.sin(i * 8 + d + 1).toFloat * 3 + (if (i % 2 == 0) 5f else -5f))))
    }
    val e = vecs.toDF("vec_id", "embedding")
    val centroids = e.filter($"vec_id" < 2) // one per parity class
    val res = VectorOps.ivfResiduals(e, "vec_id", "embedding", centroids)
    val cbs = res.select(explode(array(
        struct(lit(0).as("sub"), $"id".as("cid"), slice($"rvec", 1, 4).as("cvec")),
        struct(lit(1).as("sub"), $"id".as("cid"), slice($"rvec", 5, 4).as("cvec"))))
        .as("cb"))
      .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
    val enc = VectorOps.ivfPqEncode(e, "vec_id", "embedding", centroids,
      cbs, m = 2, dim = 8)
    // every vector's own residual wins both subspaces (zero l2; ties on a
    // duplicate residual break to the smaller cid — none here by design)
    val codes = enc.collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3)).toMap
    val resRows = res.as[(Long, Long, Seq[Double])].collect()
    val residOf = resRows.map(r => r._1 -> r._3).toMap
    vecs.foreach { case (id, _) =>
      for (sub <- 0 to 1) {
        val mine = if (sub == 0) residOf(id).take(4) else residOf(id).drop(4)
        val winners = resRows.filter { r =>
          (if (sub == 0) r._3.take(4) else r._3.drop(4)) == mine
        }.map(_._1)
        assert(winners.contains(codes((id, sub))), s"id=$id sub=$sub")
        assert(codes((id, sub)) == winners.min, s"tie must break to min cid")
      }
    }
    val got = VectorOps.ivfPqSearch(enc, centroids, e.filter($"vec_id" >= 10),
        "vec_id", "embedding", cbs, m = 2, dim = 8, k = 4, nProbe = 2)
      .select($"query_id", $"rank", $"neighbor_id", $"adc")
      .as[(Long, Int, Long, Double)].collect()
    // exact MIPS reference (dot in doubles); ADC with exact codebooks is
    // q·x re-associated, so rankings must agree when gaps exceed the
    // re-association noise (they do by construction here: values are O(10))
    val all = vecs.map { case (id, v) => id -> v.map(_.toDouble) }
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val qv = all.find(_._1 == qid).get._2
      val exact = all.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, qv.zip(nv).map(p => p._1 * p._2).sum) }
        .sortBy { case (nid, ip) => (-ip, nid) }.take(4).map(_._1)
      assert(rows.sortBy(_._2).map(_._3).toSeq == exact.toSeq, s"q=$qid")
      rows.foreach { case (_, _, nid, adc) =>
        val expDot = qv.zip(all.find(_._1 == nid).get._2).map(p => p._1 * p._2).sum
        assert(math.abs(adc - expDot) < 1e-9 * math.max(1.0, math.abs(expDot)),
          s"adc=$adc vs dot=$expDot")
      }
    }
  }

  test("clusterQuality ≡ driver-side quantized inertia; partitioning-invariant") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cen = e.filter($"vec_id" < 10)
    val got = VectorOps.clusterQuality(e, "vec_id", "embedding", cen, scale = 4)
      .as[(Long, Long, String, Double)].collect().map(r => r._1 -> r).toMap
    // driver replication: cosine-argmax assignment, e4 integer squares
    val all = e.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val cents = all.filter(_._1 < 10).map { case (id, v) => id -> v.map(_.toDouble) }
    def q(x: Double): Long = math.floor(x * 10000.0 + 0.5).toLong
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
      d / math.sqrt(a.foldLeft(0.0)((s, x) => s + x * x) *
        b.foldLeft(0.0)((s, x) => s + x * x))
    }
    val expect = all.map { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val cid = cents.map { case (c, cv) => (-cos(v, cv), c) }.min._2
      val sq = v.zip(cents.find(_._1 == cid).get._2)
        .foldLeft(0L) { case (acc, (x, y)) =>
          val d = q(x) - q(y); acc + d * d
        }
      cid -> sq
    }.groupBy(_._1).map { case (cid, rows) =>
      cid -> ((rows.length.toLong, rows.map(r => BigInt(r._2)).sum))
    }
    expect.foreach { case (cid, (n, sq)) =>
      val (_, gn, pin, d) = got(cid)
      assert(gn == n && BigInt(pin) == sq, s"cluster $cid")
      assert(d == java.lang.Double.parseDouble(sq.toString) / 1.0e8)
    }
    assert(got.keySet == expect.keySet)
    // partitioning-invariant (exact integers, order-free aggregate)
    val re = VectorOps.clusterQuality(e.repartition(17), "vec_id", "embedding",
        cen, scale = 4)
      .as[(Long, Long, String, Double)].collect().map(r => r._1 -> r).toMap
    assert(re == got)
  }

  test("groupCentroids ≡ driver-side unit-quantized pooling; stable under repartition") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val rows = e.select($"label", $"embedding").as[(Int, Seq[Float])].collect()
    // Reference: quantize each float by the operator's fixed IEEE chain
    // ⌊v·10⁸ + 0.5⌋ (float→double widening, multiply, add, floor — all
    // bit-specified), exact-sum the integer units, divide out the mean.
    val expect = rows.groupBy(_._1).flatMap { case (lbl, vs) =>
      val dim = vs.head._2.length
      (0 until dim).map { p =>
        val qs = vs.map(v => math.floor(v._2(p).toDouble * 1e8 + 0.5).toLong)
        val sv = qs.sum
        ((lbl, p), (vs.size.toLong, sv, sv.toDouble / 1e8 / vs.size))
      }
    }
    val got = VectorOps.groupCentroids(e.repartition(11), "label", "embedding")
      .as[(Int, Int, Long, Long, Double)].collect()
    assert(got.length === expect.size)
    got.foreach { case (lbl, p, n, sv, mean) =>
      val (en, esv, emean) = expect((lbl, p))
      assert(n === en && sv === esv && mean === emean, s"($lbl,$p)")
    }
  }

  test("topComponentInt recovers a planted principal axis (direction + sign)") {
    // Points spread along (3, 4) with a small orthogonal wobble: the
    // dominant component must be ∝ (3, 4) — ratio 4/3 at integer
    // resolution — with the max-|entry| coordinate positive.
    val pts = (-20 to 20).map { k =>
      // ((k % 3) + 3) % 3 − 1 ∈ {−1, 0, 1}: Scala's % is sign-preserving,
      // so a bare (k % 3) − 1 reaches −3 for negative k and the "wobble"
      // becomes a k-correlated tilt of the axis itself.
      val wob = ((k % 3) + 3) % 3 - 1
      Array((3.0 * k - 0.08 * wob * 4).toFloat, (4.0 * k + 0.08 * wob * 3).toFloat)
    }
    val df = pts.map(p => Tuple1(p.toSeq)).toDF("embedding")
    val got = VectorOps.topComponentInt(df, "embedding")
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(got.length == 2 && got(1) > 0, s"sign convention: ${got.toSeq}")
    val ratio = got(1).toDouble / got(0).toDouble
    assert(math.abs(ratio - 4.0 / 3.0) < 0.01, s"axis ratio $ratio")
  }

  test("topComponentInt: partitioning-invariant on the fixture; tracks a planted 64-dim axis") {
    // Exact-integer invariance on the REAL embeddings (near-isotropic
    // spectrum — fine for determinism, useless for convergence claims)...
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val a = VectorOps.topComponentInt(e.repartition(13), "embedding")
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    val b = VectorOps.topComponentInt(e.coalesce(1), "embedding")
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(a.toSeq == b.toSeq)
    // ...and accuracy on a 64-dim set WITH a dominant direction: points
    // t·u + small deterministic noise must recover u (|cos| > 0.999 —
    // power iteration needs an eigengap, which the planted axis provides).
    val d = 64
    val u = Array.tabulate(d)(i => math.sin(i + 1.0))
    val un = { val n = math.sqrt(u.map(v => v * v).sum); u.map(_ / n) }
    val pts = (1 to 300).map { r =>
      val t = (r % 21) - 10.0
      Array.tabulate(d)(i => (t * un(i) + 0.01 * ((r * 31 + i * 7) % 5 - 2)).toFloat)
    }
    val df = pts.map(p => Tuple1(p.toSeq)).toDF("embedding")
    val got = VectorOps.topComponentInt(df, "embedding")
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2.toDouble)
    val cos = math.abs(
      got.zip(un).map { case (x, y) => x * y }.sum /
        math.sqrt(got.map(v => v * v).sum))
    assert(cos > 0.999, s"planted axis not recovered: cos=$cos")
  }

  test("IVF-PQ with kmeans-trained sub-codebooks: the production path the " +
    "q_ivfpq_curve plateau points at (trained >= raw-residual recall)") {
    import graft.operators.EvalOps
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = e.filter($"vec_id" < 10)
    val queriesDf = e.filter($"vec_id".between(100, 109))
    val truth = VectorOps.topK(e, queriesDf, "vec_id", "embedding", k = 3)
      .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j"))
    val resAll = VectorOps.ivfResiduals(e, "vec_id", "embedding", centroids)
    def recall(cbs: org.apache.spark.sql.DataFrame): Double = {
      val enc = VectorOps.ivfPqEncode(e, "vec_id", "embedding", centroids,
        cbs, m = 2, dim = 64)
      EvalOps.pairSetPrf(
        VectorOps.ivfPqSearch(enc, centroids, queriesDf, "vec_id",
            "embedding", cbs, m = 2, dim = 64, k = 3, nProbe = 3)
          .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j")),
        truth).select($"recall").head().getDouble(0)
    }
    // raw tier: the q_ivfpq_recall fixture codebook — 8 arbitrary residuals
    val cbsRaw = resAll.filter($"id".between(20L, 27L))
      .select(explode(array(
        struct(lit(0).as("sub"), $"id".as("cid"), slice($"rvec", 1, 32).as("cvec")),
        struct(lit(1).as("sub"), $"id".as("cid"), slice($"rvec", 33, 32).as("cvec")))).as("cb"))
      .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
    // production tier: the same 8 seeds Lloyd-refined per sub-space over
    // ALL residual sub-vectors (how FAISS trains PQ codebooks)
    val cbsTrained = (0 until 2).map { sub =>
      val sv = resAll.select($"id", slice($"rvec", sub * 32 + 1, 32).as("sv"))
      VectorOps.kmeans(sv, sv.filter($"id".between(20L, 27L)), "id", "sv",
          iters = 3)
        .select(lit(sub).as("sub"), $"cluster_id".as("cid"), $"cvec")
    }.reduce(_ unionByName _)
    val rRaw = recall(cbsRaw)
    val rTrained = recall(cbsTrained)
    info(s"recall@3 raw=$rRaw kmeans-trained=$rTrained")
    // training must never hurt, and on this fixture it strictly helps —
    // the evidence behind BASELINE.md's "codebook quality is the binding
    // constraint" adjudication of the flat q_ivfpq_curve
    assert(rTrained >= rRaw, s"trained $rTrained < raw $rRaw")
  }
}
