package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.meta.IndexTables
import graft.operators.MinHashLsh

class MinHashLshSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("LSH candidates + exact verify equal brute-force Jaccard on the fixture") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val lsh = MinHashLsh.nearDupPairs(docs, "doc_id", "text")
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSet

    val sh = docs.select($"doc_id",
        graft.operators.TextOps.wordShingles($"text").as("sh"))
      .filter(size($"sh") > 0)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        size(array_intersect(col("a.sh"), col("b.sh"))).as("c"),
        size(array_union(col("a.sh"), col("b.sh"))).as("u"))
      .filter($"u" > 0 && $"c" * 2 >= $"u")
      .select("i", "j").as[(Long, Long)].collect().toSet

    assert(lsh === brute)
    assert(lsh.nonEmpty) // the fixture plants near-duplicates
  }

  test("compiled signatures ≡ the explode/min-aggregate formulation; empty → absent") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(120)
    val shingled = docs.select($"doc_id",
        graft.operators.TextOps.wordShingles($"text").as("sh"))
      .filter(size($"sh") > 0)
    val fast = MinHashLsh.signatures(shingled, 16)
      .orderBy($"doc_id").collect().toSeq.map(_.toSeq)
    val slow = MinHashLsh.signaturesAgg(shingled, 16)
      .orderBy($"doc_id").collect().toSeq.map(_.toSeq)
    assert(fast == slow && fast.nonEmpty)
    // degenerate inputs produce no signature row in either formulation
    // (explode drops them; the compiled fold yields null, filtered out)
    val degenerate = Seq((1L, Seq.empty[String]), (2L, Seq("a b c")))
      .toDF("doc_id", "sh")
    assert(MinHashLsh.signatures(degenerate, 4)
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("signatures are stable under repartitioning") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    def sig(df: org.apache.spark.sql.DataFrame) = {
      val shingled = df.select($"doc_id",
          graft.operators.TextOps.wordShingles($"text").as("sh"))
        .filter(size($"sh") > 0)
      MinHashLsh.signatures(shingled, 16).orderBy($"doc_id").collect().toSeq
    }
    assert(sig(docs) === sig(docs.repartition(7)))
  }

  test("band keys are primitive longs; equal band rows ⇒ equal keys") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    val shingled = docs.select($"doc_id",
        graft.operators.TextOps.wordShingles($"text").as("sh"))
      .filter(size($"sh") > 0)
    val banded = MinHashLsh.bandedKeys(MinHashLsh.signatures(shingled, 16), 4, 4)
    // The join key must be a primitive LONG — variable-length string keys
    // were measured ~1.8× slower on the analogous n-gram join.
    assert(banded.schema("band_key").dataType ==
      org.apache.spark.sql.types.LongType)
    // Exact duplicates (same text ⇒ same signature) share every band key.
    // The planted rows are materialized once (collect → local relation):
    // referencing an unordered `limit` twice via union is not guaranteed to
    // pick the same rows in both subtrees, and a raw shared-key group count
    // undercounts when two distinct planted docs happen to share a band key.
    val plantedRows = shingled.orderBy($"doc_id").limit(3)
      .as[(Long, Seq[String])].collect().toSeq
    val planted = plantedRows.toDF("doc_id", "sh")
    val twin = planted.withColumn("doc_id", $"doc_id" + 100000L)
    val both = MinHashLsh.bandedKeys(
      MinHashLsh.signatures(planted.union(twin), 16), 4, 4)
    // Each planted doc must collide with ITS twin in every one of the 4 bands.
    val collisions = both.as("a").join(both.as("b"),
        $"a.band" === $"b.band" && $"a.band_key" === $"b.band_key" &&
          $"a.doc_id" + 100000L === $"b.doc_id")
      .groupBy(col("a.doc_id").as("doc_id")).count()
      .as[(Long, Long)].collect().toMap
    plantedRows.map(_._1).foreach { id =>
      assert(collisions.get(id).contains(4L),
        s"doc $id must collide with its twin in all 4 bands, got ${collisions.get(id)}")
    }
  }

  test("permutation hashes stay within [0, Prime)") {
    val h = lit(999999999L)
    val vals = (0 until 64).map(k =>
      Seq(1).toDF("x").select(MinHashLsh.permHash(h, k)).head().getLong(0))
    assert(vals.forall(v => v >= 0 && v < graft.operators.TextOps.Prime))
  }

  /** The catalog tables of the persisted LSH indexes `names`. */
  private def lshTables(names: String*): Seq[String] =
    names.flatMap(n => Seq(s"${n}_bands", s"${n}_sets"))

  test("persisted LSH index: build+append probe ≡ from-scratch build ≡ brute force") {
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val corpus = docs.filter($"doc_id" % 4 <= 1)
      val ingest = docs.filter($"doc_id" % 4 === 2)
      val probe = docs.filter($"doc_id" % 4 === 3)
      def probePairs(name: String) =
        MinHashLsh.lshProbe(spark, probe, "doc_id", "text", name)
          .select("new_id", "corpus_id", "n_common", "n_union")
          .as[(Long, Long, Int, Int)].collect().toSet
      // Incremental path: build on the corpus, append the ingest batch.
      MinHashLsh.saveLshIndex(corpus, "doc_id", "text", "lsh_spec_incr",
        numHashes = 32, numBands = 8, buckets = 4)
      MinHashLsh.appendToLshIndex(spark, ingest, "doc_id", "text", "lsh_spec_incr")
      val incr = probePairs("lsh_spec_incr")
      // From-scratch build over the union must probe identically.
      MinHashLsh.saveLshIndex(corpus.unionByName(ingest), "doc_id", "text",
        "lsh_spec_full", numHashes = 32, numBands = 8, buckets = 4)
      assert(incr === probePairs("lsh_spec_full"),
        "appended index state must equal a from-scratch build")
      // And equal brute-force cross pairs (fixture similarity gap ⇒ recall 1).
      val sh = docs.select($"doc_id",
          graft.operators.TextOps.wordShingles($"text").as("sh"))
        .filter(size($"sh") > 0)
      val brute = sh.as("a").join(sh.as("b"),
          col("a.doc_id") % 4 === 3 && col("b.doc_id") % 4 <= 2 &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("n"), col("b.doc_id").as("c"),
          size(array_intersect(col("a.sh"), col("b.sh"))).as("nc"),
          size(array_union(col("a.sh"), col("b.sh"))).as("nu"))
        .filter($"nu" > 0 && $"nc" * 2 >= $"nu")
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(incr === brute)
      assert(incr.nonEmpty, "fixture must plant cross-parity near-dups")
    } finally dropTables(lshTables("lsh_spec_incr", "lsh_spec_full"): _*)
  }

  test("persisted LSH probe: corpus side reads bucketed — no corpus exchange") {
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      MinHashLsh.saveLshIndex(docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
        "lsh_spec_plan", numHashes = 32, numBands = 8, buckets = 4)
      val plan = MinHashLsh.lshProbe(spark, docs.filter($"doc_id" % 2 === 1),
        "doc_id", "text", "lsh_spec_plan").queryExecution.executedPlan.toString
      // The bands and sets tables are bucketed on their join keys: an Exchange
      // whose child scans either table means the co-location contract broke.
      val badExchange = "(?s)Exchange hashpartitioning[^\\n]*\\n[^E]*lsh_spec_plan".r
      assert(badExchange.findFirstIn(plan).isEmpty,
        s"corpus-side exchange over a bucketed index table:\n$plan")
    } finally dropTables(lshTables("lsh_spec_plan"): _*)
  }

  test("compactBucketed: N appends collapse to ≤ buckets files; probe results and " +
      "no-exchange plan survive") {
    val name = "lsh_spec_compact"
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val probe = docs.filter($"doc_id" % 4 === 3)
      // Build + three daily appends: the file-accretion shape compaction
      // exists for (each append lands its own file-set per table).
      MinHashLsh.saveLshIndex(docs.filter($"doc_id" % 4 === 0), "doc_id", "text",
        name, numHashes = 32, numBands = 8, buckets = 4)
      Seq(1, 2, 5).foreach { r =>
        MinHashLsh.appendToLshIndex(spark,
          docs.filter($"doc_id" % 8 === r), "doc_id", "text", name)
      }
      def pairs() = MinHashLsh.lshProbe(spark, probe, "doc_id", "text", name)
        .select("new_id", "corpus_id", "n_common", "n_union")
        .as[(Long, Long, Int, Int)].collect().toSet
      val beforePairs = pairs()
      assert(beforePairs.nonEmpty, "fixture must plant cross-parity near-dups")
      val (bandsBefore, bandsAfter) = IndexTables.compact(spark, s"${name}_bands")
      val (setsBefore, setsAfter) = IndexTables.compact(spark, s"${name}_sets")
      // 1 build + 3 appends × up-to-4-files each collapse to ≤ 4 (one file
      // per non-empty bucket) — and the drop is strict.
      assert(bandsAfter <= 4 && bandsAfter < bandsBefore, s"$bandsBefore -> $bandsAfter")
      assert(setsAfter <= 4 && setsAfter < setsBefore, s"$setsBefore -> $setsAfter")
      // The compacted table still carries the bucket spec in the catalog...
      val spec = IndexTables.bucketSpec(spark, s"${name}_bands")
      assert(spec.exists(s => s.numBuckets == 4 &&
        s.bucketColumnNames == Seq("band", "band_key")))
      // ...and the build parameters the probe reads, carried over by the
      // rewrite...
      assert(IndexTables.properties(spark, s"${name}_bands") ===
        Map("num_hashes" -> "32", "num_bands" -> "8", "shingle_n" -> "3"))
      // ...the probe result is unchanged...
      assert(pairs() === beforePairs)
      // ...and the probe plan is still exchange-free on the corpus side.
      val plan = MinHashLsh.lshProbe(spark, probe, "doc_id", "text", name)
        .queryExecution.executedPlan.toString
      val badExchange = "(?s)Exchange hashpartitioning[^\\n]*\\n[^E]*lsh_spec_compact".r
      assert(badExchange.findFirstIn(plan).isEmpty,
        s"corpus-side exchange after compaction:\n$plan")
    } finally dropTables(lshTables(name): _*)
  }

  test("lshProbeEmissions streaming: distinct emissions ≡ batch probe, ZERO stream state") {
    val name = "lsh_spec_emit"
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val probe = docs.filter($"doc_id" % 4 === 3)
      MinHashLsh.saveLshIndex(docs.filter($"doc_id" % 4 <= 2), "doc_id", "text",
        name, numHashes = 32, numBands = 8, buckets = 4)
      val want = MinHashLsh.lshProbe(spark, probe, "doc_id", "text", name)
        .select("new_id", "corpus_id", "n_common", "n_union")
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(want.nonEmpty)
      val staged = java.nio.file.Files.createTempDirectory("lsh_emit").toString
      probe.repartition(2).write.mode("overwrite").parquet(staged)
      val src = spark.readStream.schema(spark.read.parquet(staged).schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      val q = MinHashLsh.lshProbeEmissions(spark, src, "doc_id", "text", name)
        .writeStream.format("memory").queryName("lsh_emit_sink")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("lsh_emit_sink").distinct()
        .select("new_id", "corpus_id", "n_common", "n_union")
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(got === want)
      // The whole point of the carried-shingles plan: the per-batch pipeline
      // is STATELESS — no StreamingSymmetricHashJoin, no state store. (The
      // join-back formulation plans a stateful stream-stream join that
      // dominated per-batch cost ~30:1 over the actual probe work.)
      val sops = q.lastProgress.stateOperators
      assert(sops.isEmpty, s"expected a stateless streaming plan, got state " +
        s"operators: ${sops.map(_.operatorName).mkString(",")}")
    } finally dropTables(lshTables(name): _*)
  }

  test("cacheLshIndex: probe output identical with the static side cached") {
    val name = "lsh_spec_cache"
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val probe = docs.filter($"doc_id" % 4 === 3)
      MinHashLsh.saveLshIndex(docs.filter($"doc_id" % 4 <= 2), "doc_id", "text",
        name, numHashes = 32, numBands = 8, buckets = 4)
      def pairs() = MinHashLsh.lshProbe(spark, probe, "doc_id", "text", name)
        .select("new_id", "corpus_id", "n_common", "n_union")
        .as[(Long, Long, Int, Int)].collect().toSet
      val cold = pairs()
      assert(cold.nonEmpty)
      MinHashLsh.cacheLshIndex(spark, name)
      try {
        assert(spark.catalog.isCached(s"${name}_bands"))
        assert(spark.catalog.isCached(s"${name}_sets"))
        // The cached plan actually serves the probe (an in-memory relation
        // scan in the executed plan), with identical results.
        val df = MinHashLsh.lshProbe(spark, probe, "doc_id", "text", name)
        assert(df.queryExecution.executedPlan.toString.contains("InMemoryRelation"))
        assert(pairs() === cold)
      } finally MinHashLsh.uncacheLshIndex(spark, name)
      assert(!spark.catalog.isCached(s"${name}_bands"))
    } finally dropTables(lshTables(name): _*)
  }

  test("compactBucketed refuses unbucketed tables") {
    dropTables("lsh_spec_flat")
    try {
      IndexTables.overwrite(spark.range(10).toDF(), "lsh_spec_flat")
      intercept[IllegalArgumentException] {
        IndexTables.compact(spark, "lsh_spec_flat")
      }
    } finally dropTables("lsh_spec_flat")
  }
}
