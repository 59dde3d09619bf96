package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.operators._
import graft.meta.Ckpt.Syntax
import graft.queries.QueryShared._

/** Embedding-similarity + multimodal gates: brute-force cosine top-k,
  * IVF/PQ/SQ8/BQ/MRL ANN tiers with recall gates, SemDeDup, and the
  * binary-column multimodal quartet — with their DuckDB oracles.
  * Determinism conventions: [[QueryDomain]].
  */
object VectorQueries extends QueryDomain {

  /** The staged IVF-PQ codes index shared by q_ivfpq_index and
    * q_stream_ivfpq_probe (the lshProbeIndex convention): built on the
    * even vec_ids, odd half appended in two batches against the persisted
    * centroids/codebooks, code file-sets compacted — once per (sf, JVM),
    * so bench reps measure the PROBE and a repeat append cannot
    * duplicate codes. Catalog tables are shared across sessions.
    */
  private def ivfPqIndexName(s: SparkSession, dir: String): String =
    Staging.memo[String]("ivfpqindex", dir) {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val centroids = e.filter($"vec_id" < 10)
      val res8 = VectorOps.ivfResiduals(
        e.filter($"vec_id".between(20, 27)), "vec_id", "embedding", centroids)
      val cbs = res8.select(explode(array(
          struct(lit(0).as("sub"), $"id".as("cid"),
            slice($"rvec", 1, 32).as("cvec")),
          struct(lit(1).as("sub"), $"id".as("cid"),
            slice($"rvec", 33, 32).as("cvec")))).as("cb"))
        .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
      val nm = "graft_ivfpq_index_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      VectorOps.saveIvfPqIndex(e.filter($"vec_id" % 2 === 0), centroids,
        "vec_id", "embedding", cbs, m = 2, dim = 64, nm, buckets = 8)
      VectorOps.appendToIvfPqIndex(s, e.filter($"vec_id" % 4 === 1),
        "vec_id", "embedding", nm)
      VectorOps.appendToIvfPqIndex(s, e.filter($"vec_id" % 4 === 3),
        "vec_id", "embedding", nm)
      ScaleJoins.compactBucketed(s, s"${nm}_codes")
      nm
    }

  /** The staged REFRESHED IVF-PQ index behind q_ivfpq_refresh — the full
    * persisted-index life cycle run end-to-end once per (sf, JVM): build
    * with the RAW m=4 seed codebooks (residual slices of ids 20–27, the
    * q_ivfpq_trained seed set) on the even half, append the odd half in
    * two batches, then [[VectorOps.refreshIvfPqIndex]] retrains the
    * codebooks over the CURRENT full corpus (2 integer-Lloyd rounds
    * seeded from the persisted codebooks) and rewrites the codes tier in
    * place. The final state is bit-reproducible by the unrolled trained
    * oracle — the build/append prelude is fully superseded by the refresh
    * (that is the point: a refresh leaves no trace of the stale codes),
    * so the same memo also keeps bench reps measuring the PROBE.
    */
  private def ivfPqRefreshName(s: SparkSession, dir: String): String =
    Staging.memo[String]("ivfpqrefresh", dir) {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val centroids = e.filter($"vec_id" < 10)
      val res8 = VectorOps.ivfResiduals(
        e.filter($"vec_id".between(20, 27)), "vec_id", "embedding", centroids)
      val seedCbs = res8.select(explode(array(
          (0 until 4).map(sub =>
            struct(lit(sub).as("sub"), $"id".as("cid"),
              slice($"rvec", sub * 16 + 1, 16).as("cvec"))): _*)).as("cb"))
        .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
      val nm = "graft_ivfpq_refresh_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      VectorOps.saveIvfPqIndex(e.filter($"vec_id" % 2 === 0), centroids,
        "vec_id", "embedding", seedCbs, m = 4, dim = 64, nm, buckets = 8)
      VectorOps.appendToIvfPqIndex(s, e.filter($"vec_id" % 4 === 1),
        "vec_id", "embedding", nm)
      VectorOps.appendToIvfPqIndex(s, e.filter($"vec_id" % 4 === 3),
        "vec_id", "embedding", nm)
      VectorOps.refreshIvfPqIndex(s, e, "vec_id", "embedding", nm, iters = 2)
      nm
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- similarity search over embeddings --------------------------------
    "q_cosine_topk" -> { (s, dir) =>
      import s.implicits._
      val e = t(s, dir, "embeddings")
      VectorOps.topK(e, e.filter($"vec_id" < 10), "vec_id", "embedding", k = 5)
        .select($"query_id", $"rank".cast("int").as("rnk"), $"neighbor_id", $"cos")
        .orderBy($"query_id", $"rnk")
    },

    "q_retrieval_eval" -> { (s, dir) =>
      import s.implicits._
      // Retrieval-quality judging ([[EvalOps.retrievalMetrics]]): nDCG@10
      // + MRR@10 of the exact cosine top-k (q_cosine_topk's system)
      // against label-equality relevance, per query + macro means. The
      // log₂ discounts are SHARED DOUBLE LITERALS (log is not
      // IEEE-bit-specified across engines — the dsirScore literal-model
      // move); DCG folds in rank order, IDCG is a literal prefix-sum
      // lookup, macros fold in query-id order — every double
      // bit-reproducible.
      val e = t(s, dir, "embeddings")
      val ranked = VectorOps.topK(e, e.filter($"vec_id" < 20),
          "vec_id", "embedding", k = 10)
        .select($"query_id", $"rank", $"neighbor_id")
      EvalOps.retrievalMetrics(ranked, e.select($"vec_id", $"label"),
        "vec_id", "label", k = 10)
        .orderBy($"query_id")
    },

    "q_mrl_rerank" -> { (s, dir) =>
      import s.implicits._
      // Matryoshka funnel retrieval ([[VectorOps.mrlTopK]]): shortlist of
      // 40 by exact prefix-16 cosine (a 4× cheaper scoring pass on
      // MRL-style embeddings), full-64-dim exact rerank of the shortlist.
      // Both stages are the shared strict-fold cosine, so the pipeline
      // hash-matches the oracle end to end.
      val e = t(s, dir, "embeddings")
      VectorOps.mrlTopK(e, e.filter($"vec_id" < 5), "vec_id", "embedding",
          prefixDim = 16, k = 10, shortlist = 40)
        .select($"query_id", $"rank".cast("int").as("rnk"), $"neighbor_id", $"cos")
        .orderBy($"query_id", $"rnk")
    },

    "q_bq_topk" -> { (s, dir) =>
      import s.implicits._
      // Binary-quantization search ([[VectorOps.bqTopK]]): 1 bit per
      // dimension (the sign) packed into one long, Hamming shortlist of 40
      // per query on the codes alone, exact-cosine rerank of the shortlist
      // — the 32× compression tier next to SQ8 (8 bits) and PQ (codebook).
      // Codes are exact integer folds and the rerank cosine is the shared
      // strict-fold formulation, so the whole pipeline hash-matches the
      // oracle; recall vs exact is spec'd in VectorOpsSpec.
      val e = t(s, dir, "embeddings")
      VectorOps.bqTopK(e, e.filter($"vec_id" < 5), "vec_id", "embedding",
          dim = 64, k = 10, shortlist = 40)
        .select($"query_id", $"rank".cast("int").as("rnk"), $"neighbor_id", $"cos")
        .orderBy($"query_id", $"rnk")
    },

    "q_sq8_topk" -> { (s, dir) =>
      import s.implicits._
      // SQ8-compressed approximate MIPS ([[VectorOps.sq8TopK]]): vectors
      // quantized to int8 codes + a per-vector scale (4× smaller than
      // FLOAT), candidates scored by exact integer dots, dequantized once
      // per pair. The recall trade vs the exact ranking is spec'd in
      // VectorOpsSpec; here the quantized pipeline itself is hash-gated
      // (codes, scales, and the dequantized score are all exact-arithmetic
      // cross-engine twins).
      val e = t(s, dir, "embeddings")
      VectorOps.sq8TopK(e, e.filter($"vec_id" < 5), "vec_id", "embedding", k = 10)
        .select($"query_id", $"rank".cast("int").as("rnk"), $"neighbor_id", $"ip8")
        .orderBy($"query_id", $"rnk")
    },

    "q_rrf_fusion" -> { (s, dir) =>
      import s.implicits._
      // Hybrid-retrieval fusion ([[VectorOps.rrfFuse]]): each query's cosine
      // top-10 and Euclidean top-10 lists merged by reciprocal-rank fusion
      // (k = 60) — the calibration-free way to combine rankings from
      // different metrics. Terms are sorted before the strict fold so the
      // fused double is shuffle-order-independent; both rankings derive from
      // the same broadcast-queries + salted-top-k plan as q_cosine_topk.
      val e = t(s, dir, "embeddings")
      val q = e.filter($"vec_id" < 10)
      VectorOps.rrfFuse(Seq(
          VectorOps.topK(e, q, "vec_id", "embedding", k = 10),
          VectorOps.topKL2(e, q, "vec_id", "embedding", k = 10)), topN = 10)
        .orderBy($"query_id", $"rrf_rank")
    },

    "q_hybrid_retrieval" -> { (s, dir) =>
      import s.implicits._
      // The retrieval pipeline END TO END: one user query in both
      // modalities — keywords for the BM25 lexical leg, document 0's
      // embedding for the dense leg (doc_id and vec_id share the id space
      // by fixture design) — fused into one ranking by reciprocal-rank
      // fusion. Composes q_bm25_topk + q_cosine_topk through rrfFuse; each
      // leg keeps its own plan (prefix-pruned tf aggregate / broadcast-
      // query top-k) and the fusion adds one keyed aggregate — nothing new
      // shuffles wide.
      val e = t(s, dir, "embeddings")
      val lex = CorpusOps.bm25(docs(s, dir), "doc_id", "text",
          queryTerms = Seq("join", "spark", "vector"), k = 20)
        .select(lit(0L).as("query_id"), $"rnk".as("rank"),
          $"doc_id".as("neighbor_id"))
      val dense = VectorOps.topK(e, e.filter($"vec_id" === 0),
          "vec_id", "embedding", k = 20)
        .select($"query_id", $"rank", $"neighbor_id")
      VectorOps.rrfFuse(Seq(lex, dense), topN = 10)
        .orderBy($"rrf_rank")
    },

    "q_ann_ivf" -> { (s, dir) =>
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val centroids = e.filter($"vec_id" < 10)
      val queriesDf = e.filter($"vec_id".between(100, 109))
      val index = VectorOps.ivfAssign(e, centroids, "vec_id", "embedding")
      VectorOps.ivfSearch(index, e, queriesDf, "vec_id", "embedding", k = 3, nProbe = 2)
        .select($"query_id", $"rank".cast("int").as("rnk"), $"neighbor_id", $"cos")
        .orderBy($"query_id", $"rnk")
    },

    "q_ann_recall" -> { (s, dir) =>
      import s.implicits._
      // ANN FIDELITY judged by the pair-set judge
      // ([[EvalOps.pairSetPrf]]): the q_ann_ivf tier's retrieved
      // (query, neighbor) set at k=3/nProbe=2 against the exact top-3 —
      // recall here is the recall@k every vector store quotes, measured
      // not assumed, and precision < 1 exposes neighbors the probe set
      // let in that the exact ranking rejects. The (query, neighbor)
      // pairs ride the judge's (doc_i, doc_j) key verbatim (directional
      // pairs are just keys to it).
      val e = t(s, dir, "embeddings")
      val centroids = e.filter($"vec_id" < 10)
      val queriesDf = e.filter($"vec_id".between(100, 109))
      val index = VectorOps.ivfAssign(e, centroids, "vec_id", "embedding")
      EvalOps.pairSetPrf(
        VectorOps.ivfSearch(index, e, queriesDf, "vec_id", "embedding",
            k = 3, nProbe = 2)
          .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j")),
        VectorOps.topK(e, queriesDf, "vec_id", "embedding", k = 3)
          .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j")))
    },

    "q_ivf_curve" -> { (s, dir) =>
      import s.implicits._
      // The IVF TUNING CURVE — recall@3 (and precision/F1) as a function
      // of nProbe 1→3, the accuracy-vs-cost dial every vector store
      // publishes before a deployment picks its operating point:
      // q_ann_recall generalized to one [[EvalOps.pairSetPrf]] row per
      // probe width against the shared exact top-3. Recall must be
      // non-decreasing in nProbe by construction (probe sets nest) — the
      // oracle pins the whole curve, not one point.
      val e = t(s, dir, "embeddings")
      val centroids = e.filter($"vec_id" < 10)
      val queriesDf = e.filter($"vec_id".between(100, 109))
      val index = VectorOps.ivfAssign(e, centroids, "vec_id", "embedding")
      val truth = VectorOps.topK(e, queriesDf, "vec_id", "embedding", k = 3)
        .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j"))
      Seq(1, 2, 3).map { np =>
        EvalOps.pairSetPrf(
          VectorOps.ivfSearch(index, e, queriesDf, "vec_id", "embedding",
              k = 3, nProbe = np)
            .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j")),
          truth).withColumn("n_probe", lit(np))
      }.reduce(_ unionByName _)
        .select($"n_probe", $"tp", $"fp", $"fn",
          $"precision", $"recall", $"f1")
        .orderBy($"n_probe")
    },

    "q_ivf_append" -> { (s, dir) =>
      import s.implicits._
      // Incremental IVF index maintenance ([[VectorOps.appendToIvfIndex]]):
      // the index is BUILT on the even vec_ids and the odd half arrives
      // later as TWO appends (assigned with the persisted centroids,
      // bucketed appends under the same spec — never a rebuild), then the
      // accreted member file-sets are compacted
      // ([[ScaleJoins.compactBucketed]]) — so the probe below runs against
      // a post-compaction index, pinning that compaction preserves search
      // results for the IVF family too. Probing the loaded index must
      // equal q_ann_ivf's search over the whole table with the same
      // centroids — the same oracle gates both. Staged once per (sf, JVM)
      // ([[Staging.memo]]): a repeat append would duplicate members, and
      // bench reps must measure the PROBE, not the build.
      val e = t(s, dir, "embeddings")
      val name = Staging.memo[String]("ivfappend", dir) {
        val nm = "graft_ivf_append_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        val centroids = e.filter($"vec_id" < 10)
        VectorOps.saveIvfIndex(e.filter($"vec_id" % 2 === 0), centroids,
          "vec_id", "embedding", nm, buckets = 8)
        VectorOps.appendToIvfIndex(s, e.filter($"vec_id" % 4 === 1),
          "vec_id", "embedding", nm)
        VectorOps.appendToIvfIndex(s, e.filter($"vec_id" % 4 === 3),
          "vec_id", "embedding", nm)
        ScaleJoins.compactBucketed(s, s"${nm}_members")
        nm
      }
      VectorOps.ivfSearchLoaded(VectorOps.loadIvfIndex(s, name),
          e.filter($"vec_id".between(100, 109)), "vec_id", "embedding",
          k = 3, nProbe = 2)
        .select($"query_id", $"rank".cast("int").as("rnk"), $"neighbor_id", $"cos")
        .orderBy($"query_id", $"rnk")
    },

    "q_pq_topk" -> { (s, dir) =>
      import s.implicits._
      // Product-quantization MIPS top-k ([[VectorOps.pqEncode]] +
      // [[VectorOps.pqSearch]]): 64-dim vectors compress to TWO codeword
      // ids (m=2 subspaces, 8 fixed codewords each — the vec_id < 8 halves,
      // deterministic like q_ann_ivf's fixed centroid set) and queries
      // score candidates through a broadcast ADC lookup table — the
      // third leg of the ANN family next to IVF and SQ8. Encode argmin,
      // LUT dots, and the per-pair sorted 2-term fold are all
      // deterministic float ops shared exactly with the DuckDB twin.
      val e = t(s, dir, "embeddings")
      val cbs = e.filter($"vec_id" < 8).select(explode(array(
          struct(lit(0).as("sub"), $"vec_id".as("cid"),
            slice($"embedding", 1, 32).as("cvec")),
          struct(lit(1).as("sub"), $"vec_id".as("cid"),
            slice($"embedding", 33, 32).as("cvec")))).as("cb"))
        .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
      val codes = VectorOps.pqEncode(e, "vec_id", "embedding", cbs, m = 2, dim = 64)
      VectorOps.pqSearch(codes, e.filter($"vec_id".between(100, 109)),
          "vec_id", "embedding", cbs, m = 2, dim = 64, k = 5)
        .select($"query_id", $"rank".as("rnk"), $"neighbor_id", $"adc")
        .orderBy($"query_id", $"rnk")
    },

    "q_ivfpq_topk" -> { (s, dir) =>
      import s.implicits._
      // IVF-PQ residual tier ([[VectorOps.ivfPqEncode]] +
      // [[VectorOps.ivfPqSearch]]) — the FAISS `IVFx,PQy` composition
      // between q_ann_ivf's coarse lists and q_pq_topk's flat codes:
      // vectors store cluster id + 2 residual codeword ids; queries probe
      // the 3 largest-q·c clusters and score candidates by
      // qc + residual-ADC, never touching original floats. Codebooks are
      // the RESIDUALS of 8 fixed non-centroid seeds (vec_id 20–27 — a
      // centroid seed would have residual ≈ 0), deterministic like
      // q_ann_ivf's fixed centroid set.
      val e = t(s, dir, "embeddings")
      val centroids = e.filter($"vec_id" < 10)
      val res8 = VectorOps.ivfResiduals(
        e.filter($"vec_id".between(20, 27)), "vec_id", "embedding", centroids)
      val cbs = res8.select(explode(array(
          struct(lit(0).as("sub"), $"id".as("cid"),
            slice($"rvec", 1, 32).as("cvec")),
          struct(lit(1).as("sub"), $"id".as("cid"),
            slice($"rvec", 33, 32).as("cvec")))).as("cb"))
        .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
      val enc = VectorOps.ivfPqEncode(e, "vec_id", "embedding", centroids,
        cbs, m = 2, dim = 64)
      VectorOps.ivfPqSearch(enc, centroids, e.filter($"vec_id".between(100, 109)),
          "vec_id", "embedding", cbs, m = 2, dim = 64, k = 5, nProbe = 3)
        .select($"query_id", $"rank".as("rnk"), $"neighbor_id", $"adc")
        .orderBy($"query_id", $"rnk")
    },

    "q_ivfpq_index" -> { (s, dir) =>
      import s.implicits._
      // Persisted IVF-PQ CODES index ([[VectorOps.saveIvfPqIndex]] /
      // [[appendToIvfPqIndex]] / [[ivfPqSearchLoaded]]) — the layout that
      // makes PQ a 100 TB index: members persist as 1 + m LONGs (no raw
      // vectors anywhere in the index or the probe plan). Built on the
      // even vec_ids, the odd half arrives as TWO appends encoded against
      // the index's own persisted centroids/codebooks (m and subspace
      // width read off the codebook table), code file-sets compacted, then
      // probed — and the result must equal q_ivfpq_topk's in-session
      // encode+search over the WHOLE table: the same oracle gates both.
      // Staged once per (sf, JVM) ([[ivfPqIndexName]]): a repeat append
      // would duplicate codes, and bench reps must measure the PROBE.
      val e = t(s, dir, "embeddings")
      val name = ivfPqIndexName(s, dir)
      VectorOps.ivfPqSearchLoaded(VectorOps.loadIvfPqIndex(s, name),
          e.filter($"vec_id".between(100, 109)), "vec_id", "embedding",
          m = 2, dim = 64, k = 5, nProbe = 3)
        .select($"query_id", $"rank".as("rnk"), $"neighbor_id", $"adc")
        .orderBy($"query_id", $"rnk")
    },

    "q_stream_ivfpq_probe" -> { (s, dir) =>
      import s.implicits._
      // ONLINE ANN against the persisted codes index — the streaming twin
      // of q_ivfpq_index (whose staged tables it shares): each micro-batch
      // of arriving query vectors picks its probe clusters ROW-LOCALLY
      // against literal centroids and stream-static-joins the bucketed
      // codes + codebook tables ([[VectorOps.ivfPqProbeEmissions]]) —
      // zero stream state, zero corpus-side shuffle, arbitrarily long
      // uptime. Raw (query, neighbor, qc, part) emissions close into the
      // ranked ADC top-k batch-side ([[VectorOps.ivfPqCloseFromParts]] —
      // the FromCounts split applied to ANN); output must equal the batch
      // probe, so the q_ivfpq_topk oracle gates all three.
      val staged = Staging.streamQueryVecDir(s, dir)
      val name = ivfPqIndexName(s, dir) // catalog shared across sessions
      val ss = Staging.streamSession(s)
      val src = Staging.replay(ss, staged, oneFilePerBatch = true)
      val out = VectorOps.ivfPqProbeEmissions(ss, src, "vec_id", "embedding",
          name, m = 2, dim = 64, nProbe = 3)
      VectorOps.ivfPqCloseFromParts(Staging.drain(ss, out), m = 2, k = 5)
        .select($"query_id", $"rank".as("rnk"), $"neighbor_id", $"adc")
        .orderBy($"query_id", $"rnk")
    },

    "q_ivfpq_recall" -> { (s, dir) =>
      import s.implicits._
      // IVF-PQ fidelity through the pair-set judge ([[EvalOps.pairSetPrf]],
      // the q_ann_recall pattern): the residual-ADC tier's retrieved
      // (query, neighbor) set at k=3/nProbe=3 against the exact top-3 —
      // the compression tier's recall measured, not assumed.
      val e = t(s, dir, "embeddings")
      val centroids = e.filter($"vec_id" < 10)
      val res8 = VectorOps.ivfResiduals(
        e.filter($"vec_id".between(20, 27)), "vec_id", "embedding", centroids)
      val cbs = res8.select(explode(array(
          struct(lit(0).as("sub"), $"id".as("cid"),
            slice($"rvec", 1, 32).as("cvec")),
          struct(lit(1).as("sub"), $"id".as("cid"),
            slice($"rvec", 33, 32).as("cvec")))).as("cb"))
        .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
      val enc = VectorOps.ivfPqEncode(e, "vec_id", "embedding", centroids,
        cbs, m = 2, dim = 64)
      val queriesDf = e.filter($"vec_id".between(100, 109))
      EvalOps.pairSetPrf(
        VectorOps.ivfPqSearch(enc, centroids, queriesDf,
            "vec_id", "embedding", cbs, m = 2, dim = 64, k = 3, nProbe = 3)
          .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j")),
        VectorOps.topK(e, queriesDf, "vec_id", "embedding", k = 3)
          .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j")))
    },

    "q_ivfpq_trained" -> { (s, dir) =>
      import s.implicits._
      // The TRAINED-codebook IVF-PQ recall gate (r18 VERDICT item 3), as
      // a TWO-TIER measurement under one hash gate: the same m=4 seed
      // codebooks (8 residual codewords per 16-dim subspace, quantized to
      // the e4 grid) searched as-is ('seed') and after TWO
      // integer-quantized Lloyd rounds ('trained',
      // [[VectorOps.trainPqCodebooksInt]] — exact BIGINT argmin,
      // floor-mean update), so the oracle reproduces the whole training
      // loop as unrolled CTEs and the lift is measured INSIDE the gate:
      // at sf0.01 (the correctness scale) recall@3 moves 0.033 → 0.100 —
      // above the 0.067 plateau every untrained dial of q_ivfpq_curve hit
      // (BASELINE.md r19 records the honest toy-scale caveats).
      val e = t(s, dir, "embeddings")
      val centroids = e.filter($"vec_id" < 10)
      // Eager checkpoint: the residuals feed FOUR separate actions (two
      // seed collects, two Lloyd-iteration collects) before the final
      // union job — without materialization each action re-runs the
      // corpus-wide assign fold (the positive case for a checkpoint:
      // cross-ACTION reuse, not within-job subtree dedup, which
      // ReuseExchange already covers).
      val res = VectorOps.ivfResiduals(e, "vec_id", "embedding", centroids)
        .ckptEager
      val seedCbs = res.filter($"id".between(20, 27)).select(explode(array(
          (0 until 4).map(sub =>
            struct(lit(sub).as("sub"), $"id".as("cid"),
              slice($"rvec", sub * 16 + 1, 16).as("cvec"))): _*)).as("cb"))
        .select($"cb.sub".as("sub"), $"cb.cid".as("cid"), $"cb.cvec".as("cvec"))
      val queriesDf = e.filter($"vec_id".between(100, 109))
      val truth = VectorOps.topK(e, queriesDf, "vec_id", "embedding", k = 3)
        .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j"))
      def tier(iters: Int, name: String) = {
        val cbs = VectorOps.trainPqCodebooksInt(res, "rvec", seedCbs,
          m = 4, dim = 64, iters = iters)
        val enc = VectorOps.ivfPqEncode(e, "vec_id", "embedding", centroids,
          cbs, m = 4, dim = 64)
        EvalOps.pairSetPrf(
          VectorOps.ivfPqSearch(enc, centroids, queriesDf,
              "vec_id", "embedding", cbs, m = 4, dim = 64, k = 3, nProbe = 3)
            .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j")),
          truth).select(lit(name).as("tier"), $"tp", $"fp", $"fn",
            $"precision", $"recall", $"f1")
      }
      tier(0, "seed").unionByName(tier(2, "trained")).orderBy($"tier")
    },

    "q_ivfpq_refresh" -> { (s, dir) =>
      import s.implicits._
      // CODEBOOK REFRESH under drift — the persisted-index life cycle's
      // last leg (r19 VERDICT item 8): build → append → RETRAIN on the
      // current corpus ([[VectorOps.refreshIvfPqIndex]]: 2 integer-Lloyd
      // rounds seeded from the index's own persisted codebooks) → codes
      // tier rewritten in place under its own catalog bucket spec → probe.
      // The staged final state ([[ivfPqRefreshName]]) is exactly the
      // trained-codebook encode+search the q_ivfpq_trained oracle unrolls,
      // ranked top-5 — so the unrolled training CTEs gate the REFRESHED
      // ON-DISK INDEX, not just an in-session computation: a refresh that
      // leaked stale codes, dropped appended rows, or drifted from the
      // trainer would hash-mismatch here.
      val e = t(s, dir, "embeddings")
      val name = ivfPqRefreshName(s, dir)
      VectorOps.ivfPqSearchLoaded(VectorOps.loadIvfPqIndex(s, name),
          e.filter($"vec_id".between(100, 109)), "vec_id", "embedding",
          m = 4, dim = 64, k = 5, nProbe = 3)
        .select($"query_id", $"rank".as("rnk"), $"neighbor_id", $"adc")
        .orderBy($"query_id", $"rnk")
    },

    // The IVF-PQ TUNING CURVE — q_ivf_curve's dial measurement for the
    // compression tier (r16 VERDICT item 5): recall@3 (with the full
    // pair-set PRF row) as a function of (m sub-quantizers, codebook
    // size, nProbe) on the fixture codebooks. Answers which dial moves
    // q_ivfpq_recall's honest-toy 0.067; BASELINE.md records the curve.
    // Split into the nProbe dial and the (m, codebook) dial (r17 VERDICT
    // item 3: the union of all six configs was the suite's most expensive
    // gate at 5.86 s minima; the two share the (2, 8, 3) anchor so the
    // full curve is still measured, half per gate).
    "q_ivfpq_curve" -> { (s, dir) =>
      ivfPqCurveQuery(s, dir, ivfPqCurveProbeConfigs)
    },

    "q_ivfpq_curve_dims" -> { (s, dir) =>
      ivfPqCurveQuery(s, dir, ivfPqCurveDimsConfigs)
    },

    "q_cluster_quality" -> { (s, dir) =>
      import s.implicits._
      // Cluster-quality report ([[VectorOps.clusterQuality]]): per-cluster
      // member count + EXACT within-cluster inertia over e4-quantized
      // coordinates, for q_ann_ivf's fixed centroid set — the measurement
      // that decides when an IVF index's centroids need reclustering.
      // Quantize-then-square makes every distance an exact long, so the
      // statistic hash-gates where a double Σ‖x−c‖² never could.
      val e = t(s, dir, "embeddings")
      VectorOps.clusterQuality(e, "vec_id", "embedding",
          e.filter($"vec_id" < 10), scale = 4)
        .orderBy($"cluster_id")
    },

    "q_embed_centroid" -> { (s, dir) =>
      import s.implicits._
      // Per-label mean pooling ([[VectorOps.groupCentroids]]): class
      // prototype vectors in long form — exact decimal sums make the
      // pooled statistic order-free and therefore hash-gateable. Only the
      // EXACT decimal sum `sv` (and the count) is gated: the derived float
      // mean divides out engine-side, and hashing it would put each
      // engine's float→string renderer in the contract — DuckDB's changed
      // across releases and flipped this gate red in round 9.
      VectorOps.groupCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .select($"grp", $"pos", $"n", $"sv")
        .orderBy($"grp", $"pos")
    },

    "q_embed_neardup" -> { (s, dir) =>
      import s.implicits._
      // Embedding-cosine near-dup via banded sign-random-projection LSH
      // (32-bit sketches, 4 bands × 8, Hamming <= 3 = bands-1 so banded
      // recall is exactly 1 vs the oracle's brute-force scan), with the
      // exact cosine attached to every surviving pair. The fixture's
      // embeddings have no natural near-dups (max pair cosine ≈ 0.51), so —
      // as q_dedup_exact does for text — near-dups are planted by unioning
      // an id-shifted copy with coordinate 1 exactly doubled (×2 is exact
      // float arithmetic, so both engines build bit-identical vectors).
      val e = t(s, dir, "embeddings")
      val planted = e.select(($"vec_id" + 1000000L).as("vec_id"),
        concat(array(element_at($"embedding", 1) * lit(2.0f)),
          slice($"embedding", 2, 63)).as("embedding"))
      val all = e.select($"vec_id", $"embedding").unionByName(planted)
      orderedSmall(
        VectorOps.srpNearDupPairs(all, "vec_id", "embedding",
          dim = 64, bits = 32, bandBits = 8, maxHamming = 3),
        $"vec_i", $"vec_j")
    },

    "q_stream_embed_neardup" -> { (s, dir) =>
      import s.implicits._
      // Streaming SRP-banded embedding near-dup — the vector twin of
      // q_stream_neardup, sharing its band-bucket state machine
      // ([[graft.streaming.EventStreams.srpNearDup]]): the base corpus
      // replays as batch 1, the planted twins as batch 2, so every pair
      // crosses the boundary through keyed state (new-batch-vs-corpus).
      // The stream emits (vec_i, vec_j, hamming); the exact cosine is
      // attached by ONE batch join over the small pair set — output, and
      // oracle, identical to q_embed_neardup. Heavy clone: the per-batch
      // SRP signature + bucket self-join is a real fold, not a keyed
      // update — see [[Staging.FoldParts]].
      val staged = Staging.streamEmbDir(s, dir)
      val ss = Staging.streamSession(s, Staging.FoldParts)
      val src = Staging.replay(ss, staged, oneFilePerBatch = true)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      val out = graft.streaming.EventStreams
        .srpNearDup(src, "vec_id", "embedding", "tsm",
          dim = 64, horizonSec = 100000000000L,
          bits = 32, bandBits = 8, maxHamming = 3)
      val e = t(ss, dir, "embeddings")
      val planted = e.select(($"vec_id" + 1000000L).as("vec_id"),
        concat(array(element_at($"embedding", 1) * lit(2.0f)),
          slice($"embedding", 2, 63)).as("embedding"))
      val all = e.select($"vec_id", $"embedding").unionByName(planted)
        .select($"vec_id", $"embedding", VectorOps.norm2($"embedding").as("nn"))
      val pairs = Staging.drain(ss, out).distinct()
      orderedSmall(
        pairs
          .join(all.select($"vec_id".as("doc_i"), $"embedding".as("v_i"), $"nn".as("nn_i")), "doc_i")
          .join(all.select($"vec_id".as("doc_j"), $"embedding".as("v_j"), $"nn".as("nn_j")), "doc_j")
          .select($"doc_i".as("vec_i"), $"doc_j".as("vec_j"), $"hamming",
            VectorOps.cosineWithNorms($"v_i", $"v_j", $"nn_i", $"nn_j").as("cos")),
        $"vec_i", $"vec_j")
    },

    "q_semdedup" -> { (s, dir) =>
      import s.implicits._
      // SemDeDup ([[VectorOps.semDedup]]): nearest-centroid clusters bound
      // the exact pairwise-cosine stage; within a cluster a row is dropped
      // iff a smaller-id member sits at cos >= 0.8. Same planted twins as
      // q_embed_neardup (first coordinate exactly doubled — bit-identical in
      // both engines), fixed centroid rows like q_ann_ivf. Twins co-cluster
      // with their originals (the perturbation barely moves the argmax), so
      // the drops are exactly the planted side; cross-cluster recall 0 is
      // the algorithm's documented contract, not a defect.
      val e = t(s, dir, "embeddings")
      val planted = e.select(($"vec_id" + 1000000L).as("vec_id"),
        concat(array(element_at($"embedding", 1) * lit(2.0f)),
          slice($"embedding", 2, 63)).as("embedding"))
      val all = e.select($"vec_id", $"embedding").unionByName(planted)
      val centroids = e.filter($"vec_id" < 10).select($"vec_id", $"embedding")
      orderedSmall(
        VectorOps.semDedup(all, centroids, "vec_id", "embedding", minCos = 0.8),
        $"id")
    },

    // ---- multimodal binary-column plumbing --------------------------------
    "q_multimodal_features" -> { (s, dir) =>
      import s.implicits._
      val media = MultimodalOps.documentsAsMedia(s, docs(s, dir))
      MultimodalOps.extractFeatures(media).toDF()
        .orderBy($"doc_id")
    },

    "q_frame_sample" -> { (s, dir) =>
      import s.implicits._
      // Every 4th 64-byte frame of each payload with its rolling hash —
      // the frame-sampling stage of a video/audio pipeline over the same
      // binary-column plumbing as q_multimodal_features.
      val media = MultimodalOps.documentsAsMedia(s, docs(s, dir))
      MultimodalOps.sampleFrames(media, frameSize = 64, stride = 4).toDF()
        .orderBy($"doc_id", $"frame_idx")
    },

    "q_phash_neardup" -> { (s, dir) =>
      import s.implicits._
      // Perceptual-hash near-dup over BINARY payloads
      // ([[MultimodalOps.dHashNearDup]]): 64-bit difference hash (dHash)
      // of 65 evenly sampled payload bytes, 8×8-bit LSH bands for
      // candidates (pigeonhole recall 1 at Hamming ≤ 7), exact XOR-popcount
      // verify — the image-dedup shape run here over the fake-decode byte
      // stream (swap the sampler for a luminance grid in production). The
      // oracle recomputes every bit from sampled ascii() comparisons and
      // counts differing bits per candidate pair. Staged near-dups: each
      // payload reappears (+1e6) with its FIRST byte overwritten — the
      // same-length single-byte perturbation an image dedup faces (the
      // fixture's planted text near-dups change LENGTH, which shifts every
      // sample position — byte-identical layout is the contract dHash
      // detects under).
      val d = docs(s, dir)
      val staged = d.unionByName(d.select(
        ($"doc_id" + 1000000L).as("doc_id"),
        concat(lit("X"), expr("substring(text, 2)")).as("text"),
        $"lang", $"source", $"n_chars"))
      val media = MultimodalOps.documentsAsMedia(s, staged)
      MultimodalOps.dHashNearDup(media, maxHamming = 6)
        .orderBy($"doc_i", $"doc_j")
    },

    "q_mm_resize" -> { (s, dir) =>
      import s.implicits._
      // Nearest-neighbor payload RESIZE to 64 samples
      // ([[MultimodalOps.resize]]) — the remaining member of the
      // decode / feature-extract / resize / frame-sample multimodal
      // quartet: out[i] = in[⌊i·n/64⌋], the exact index map image
      // resizers use, over the same partition-parallel binary plumbing.
      // The oracle replays the index arithmetic and the rolling byte
      // hash from the source text (ASCII fixture — byte i IS codepoint i).
      val media = MultimodalOps.documentsAsMedia(s, docs(s, dir))
      MultimodalOps.resize(media, target = 64).toDF()
        .orderBy($"doc_id")
    },
  )

  val oracleSql: Map[String, String] = Map(

    "q_cosine_topk" ->
      s"""WITH $embCte,
         |p AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |  ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) AS cos
         |  FROM n q JOIN n d ON q.vec_id < 10 AND d.vec_id <> q.vec_id)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM p)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // Retrieval-eval twin: q_cosine_topk's ranking CTE at <20/k=10, then
    // the metric arithmetic with the SAME Scala-rendered discount/prefix
    // literals the engine plan embeds (Double.toString round-trips to
    // identical bits in any IEEE parser).
    "q_retrieval_eval" -> {
      val w = EvalOps.ndcgWeights(10)
      // Literals as VARCHAR→DOUBLE parses: a bare decimal literal is a
      // DECIMAL in DuckDB, and its decimal→double conversion is the
      // twice-rounding path (one ulp off — the q_correlation finding);
      // the string parse is correctly rounded in both engines.
      def dlit(d: Double) = s"CAST('${d.toString}' AS DOUBLE)"
      val wLit = w.map(dlit).mkString("[", ", ", "]")
      val pLit = w.scanLeft(0.0)(_ + _).tail.map(dlit)
        .mkString("[", ", ", "]")
      s"""WITH $embCte,
         |p AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |    ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) AS cos
         |  FROM n q JOIN n d ON q.vec_id < 20 AND d.vec_id <> q.vec_id),
         |rk AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM p),
         |top AS (SELECT query_id, neighbor_id, rnk FROM rk WHERE rnk <= 10),
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS c
         |  FROM lab GROUP BY label),
         |ql AS (SELECT l.id AS query_id, l.label AS qlab, lc.c - 1 AS n_rel
         |  FROM lab l JOIN lc USING (label) WHERE l.id < 20),
         |t2 AS (SELECT top.query_id, rnk,
         |    CASE WHEN nl.label = ql.qlab THEN 1 ELSE 0 END AS rel
         |  FROM top JOIN ql USING (query_id)
         |  JOIN lab nl ON top.neighbor_id = nl.id),
         |m AS (SELECT query_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(CASE WHEN rel = 1 THEN ($wLit)[CAST(rnk AS INT)]
         |           ELSE 0.0 END ORDER BY rnk)),
         |      (acc, x) -> acc + x) AS dcg,
         |    CASE WHEN count(*) FILTER (rel = 1) = 0 THEN 0.0
         |      ELSE 1.0 / CAST(min(rnk) FILTER (rel = 1) AS DOUBLE)
         |      END AS mrr
         |  FROM t2 GROUP BY query_id),
         |f AS (SELECT ql.query_id, CAST(ql.n_rel AS BIGINT) AS n_rel,
         |    COALESCE(m.mrr, 0.0) AS mrr, COALESCE(m.dcg, 0.0) AS dcg,
         |    CASE WHEN ql.n_rel = 0 THEN NULL
         |      ELSE COALESCE(m.dcg, 0.0)
         |        / ($pLit)[CAST(least(ql.n_rel, 10) AS INT)] END AS ndcg
         |  FROM ql LEFT JOIN m ON ql.query_id = m.query_id)
         |SELECT query_id, n_rel, mrr, dcg, ndcg FROM f
         |UNION ALL SELECT -1, NULL,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(mrr ORDER BY query_id)), (acc, x) -> acc + x)
         |    / CAST(count(*) AS DOUBLE),
         |  NULL,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(COALESCE(ndcg, 0.0) ORDER BY query_id)),
         |    (acc, x) -> acc + x) / CAST(count(*) AS DOUBLE)
         |FROM f ORDER BY query_id""".stripMargin
    },

    "q_mrl_rerank" ->
      s"""WITH $embCte,
         |p AS (SELECT vec_id, e, nn, e[1:16] AS pe,
         |    ${duckDot("(e[1:16])", "(e[1:16])")} AS pnn FROM n),
         |sc AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |    ${duckDot("q.pe", "d.pe")} / sqrt(q.pnn * d.pnn) AS pcos,
         |    q.e AS qe, q.nn AS qnn, d.e AS de, d.nn AS dnn
         |  FROM p q JOIN p d ON q.vec_id < 5 AND d.vec_id <> q.vec_id),
         |sl AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY pcos DESC, neighbor_id) AS prnk FROM sc),
         |rr AS (SELECT query_id, neighbor_id,
         |    ${duckDot("qe", "de")} / sqrt(qnn * dnn) AS cos
         |  FROM sl WHERE prnk <= 40),
         |rk AS (SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM rr)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos
         |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "q_bq_topk" ->
      s"""WITH $embCte,
         |c AS (SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, 33), i ->
         |        CASE WHEN embedding[i] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (acc, b) -> acc * 2 + b) AS lo,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(33, 65), i ->
         |        CASE WHEN embedding[i] > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |      (acc, b) -> acc * 2 + b) AS hi
         |  FROM embeddings),
         |s AS (SELECT n.vec_id, e, nn, lo, hi FROM n JOIN c ON n.vec_id = c.vec_id),
         |ham AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |    bit_count(xor(q.lo, d.lo)) + bit_count(xor(q.hi, d.hi)) AS ham,
         |    q.e AS qe, q.nn AS qnn, d.e AS de, d.nn AS dnn
         |  FROM s q JOIN s d ON q.vec_id < 5 AND d.vec_id <> q.vec_id),
         |sl AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ham, neighbor_id) AS hrnk FROM ham),
         |rr AS (SELECT query_id, neighbor_id,
         |    ${duckDot("qe", "de")} / sqrt(qnn * dnn) AS cos
         |  FROM sl WHERE hrnk <= 40),
         |rk AS (SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM rr)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos
         |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "q_sq8_topk" ->
      s"""WITH $embCte,
         |s AS (SELECT vec_id, e,
         |  CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 0.0
         |       ELSE CAST(127.0 AS DOUBLE) / list_max(list_transform(e, x -> abs(x))) END AS scale
         |  FROM v),
         |q8 AS (SELECT vec_id, scale,
         |  list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS q FROM s),
         |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  CASE WHEN a.scale = 0 OR b.scale = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*b.q[i])) AS DOUBLE)
         |            / a.scale / b.scale END AS ip8
         |  FROM q8 a JOIN q8 b ON a.vec_id < 5 AND b.vec_id <> a.vec_id)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, ip8 FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ip8 DESC, neighbor_id) AS rnk
         |  FROM p)
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // PQ twin: same subspace slices, same strict-fold L2 argmin encode
    // (ROW_NUMBER ≡ Spark's min(struct) under the total (l2, cid) order),
    // same ADC lookup join and sorted 2-term score fold.
    "q_pq_topk" ->
      s"""WITH $embCte,
         |sp AS (SELECT 0 AS sub UNION ALL SELECT 1),
         |cb AS (SELECT sp.sub, vec_id AS cid,
         |    CASE WHEN sp.sub = 0 THEN e[1:32] ELSE e[33:64] END AS cvec
         |  FROM n, sp WHERE vec_id < 8),
         |ds AS (SELECT vec_id AS id, sp.sub,
         |    CASE WHEN sp.sub = 0 THEN e[1:32] ELSE e[33:64] END AS dv
         |  FROM n, sp),
         |enc AS (SELECT id, sub, cid AS code FROM (
         |  SELECT d.id, d.sub, c.cid, ROW_NUMBER() OVER (PARTITION BY d.id, d.sub
         |    ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len(d.dv)+1),
         |        i -> (d.dv[i]-c.cvec[i])*(d.dv[i]-c.cvec[i]))),
         |      (a, x) -> a + x) ASC, c.cid ASC) AS rn
         |  FROM ds d JOIN cb c ON c.sub = d.sub) WHERE rn = 1),
         |lut AS (SELECT qd.id AS query_id, qd.sub, c.cid AS code,
         |    ${duckDot("qd.dv", "c.cvec")} AS part
         |  FROM ds qd JOIN cb c ON c.sub = qd.sub
         |  WHERE qd.id BETWEEN 100 AND 109),
         |sc AS (SELECT l.query_id, enc.id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(part))),
         |      (a, x) -> a + x) AS adc
         |  FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
         |  WHERE enc.id <> l.query_id
         |  GROUP BY l.query_id, enc.id)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, adc FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk FROM sc)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "q_ivfpq_topk" ->
      s"""WITH $ivfPqCtes
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, adc FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // Built-then-appended-then-compacted IVF-PQ codes index ≡ the
    // in-session encode+search over the whole table — same oracle as
    // q_ivfpq_topk (the q_ivf_append move for the code tier).
    "q_ivfpq_index" ->
      s"""WITH $ivfPqCtes
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, adc FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // The stateless streaming probe of the same staged index must land on
    // the same ranked top-k — q_ivfpq_topk's oracle gates batch index,
    // stream probe, and in-session search alike.
    "q_stream_ivfpq_probe" ->
      s"""WITH $ivfPqCtes
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, adc FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // IVF-PQ recall through the pair-set judge: predicted = the residual-
    // ADC top-3, truth = the exact cosine top-3 (the q_ann_recall tail).
    "q_ivfpq_recall" ->
      s"""WITH $ivfPqCtes,
         |pred AS (SELECT query_id AS di, neighbor_id AS dj FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
         |  FROM sc) WHERE rnk <= 3),
         |tr AS (SELECT query_id AS di, nid AS dj FROM (
         |  SELECT q.query_id, d.vec_id AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) DESC,
         |        d.vec_id) AS rnk
         |  FROM q JOIN n d ON d.vec_id <> q.query_id) WHERE rnk <= 3),
         |j AS (SELECT
         |    CASE WHEN p.di IS NOT NULL THEN 1 ELSE 0 END AS inp,
         |    CASE WHEN t.di IS NOT NULL THEN 1 ELSE 0 END AS intr
         |  FROM pred p FULL JOIN tr t ON p.di = t.di AND p.dj = t.dj),
         |c AS (SELECT CAST(SUM(inp * intr) AS BIGINT) AS tp,
         |    CAST(SUM(inp * (1 - intr)) AS BIGINT) AS fp,
         |    CAST(SUM((1 - inp) * intr) AS BIGINT) AS fn
         |  FROM j)
         |SELECT COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp,
         |  COALESCE(fn, 0) AS fn,
         |  CASE WHEN COALESCE(tp,0) + COALESCE(fp,0) = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
         |  CASE WHEN COALESCE(tp,0) + COALESCE(fn,0) = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
         |  CASE WHEN 2*COALESCE(tp,0) + COALESCE(fp,0) + COALESCE(fn,0) = 0
         |    THEN NULL
         |    ELSE CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
         |    END AS f1
         |FROM c""".stripMargin,

    // Trained-codebook IVF-PQ recall, two tiers under one hash gate: the
    // m=4 sub-codebooks searched raw ('seed') and after TWO unrolled
    // integer-Lloyd rounds ('trained') — the q_bpe_merges unrolled-fold
    // move applied to kmeans. Every training step is exact (BIGINT
    // squared distances, floor-mean updates via a correctly-rounded
    // double division), so cb2 lands bit-identical to Spark's
    // trainPqCodebooksInt and the downstream double-ADC chains hash-gate
    // as usual.
    "q_ivfpq_trained" ->
      s"""WITH $ivfPqTrainedCtes
         |SELECT tier, COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp,
         |  COALESCE(fn, 0) AS fn,
         |  CASE WHEN COALESCE(tp,0) + COALESCE(fp,0) = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
         |  CASE WHEN COALESCE(tp,0) + COALESCE(fn,0) = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
         |  CASE WHEN 2*COALESCE(tp,0) + COALESCE(fp,0) + COALESCE(fn,0) = 0
         |    THEN NULL
         |    ELSE CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
         |    END AS f1
         |FROM (SELECT 'seed' AS tier, * FROM c_s
         |  UNION ALL SELECT 'trained' AS tier, * FROM c_t)
         |ORDER BY tier""".stripMargin,

    // Refreshed persisted index ≡ the trained-codebook encode+search the
    // same CTE chain unrolls (only sc_t is referenced — the seed-tier and
    // PRF subtrees prune away), ranked top-5: the q_ivfpq_index move
    // applied to the retrain leg of the life cycle.
    "q_ivfpq_refresh" ->
      s"""WITH $ivfPqTrainedCtes
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, adc FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
         |  FROM sc_t)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // IVF-PQ tuning-curve twins: the q_ivfpq_recall chain parameterized
    // per config (suffixed CTEs; rv/asg/q/tr shared), one PRF row each.
    "q_ivfpq_curve" -> ivfPqCurveOracle(ivfPqCurveProbeConfigs),
    "q_ivfpq_curve_dims" -> ivfPqCurveOracle(ivfPqCurveDimsConfigs),


    "q_rrf_fusion" ->
      s"""WITH $embCte,
         |p AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |  ${duckDot("q.e", "d.e")} AS dp, q.nn AS qnn, d.nn AS dnn
         |  FROM n q JOIN n d ON q.vec_id < 10 AND d.vec_id <> q.vec_id),
         |cosr AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY dp / sqrt(qnn * dnn) DESC, neighbor_id) AS rnk
         |  FROM p),
         |l2r AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id
         |    ORDER BY qnn + dnn - CAST(2 AS DOUBLE) * dp ASC, neighbor_id) AS rnk
         |  FROM p),
         |terms AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rnk AS DOUBLE)) AS term
         |  FROM cosr WHERE rnk <= 10
         |  UNION ALL
         |  SELECT query_id, neighbor_id,
         |    CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rnk AS DOUBLE)) AS term
         |  FROM l2r WHERE rnk <= 10),
         |f AS (SELECT query_id, neighbor_id,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(term))),
         |    (a, x) -> a + x) AS rrf_score,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |  FROM terms GROUP BY query_id, neighbor_id)
         |SELECT query_id, CAST(rrf_rank AS INT) AS rrf_rank, neighbor_id,
         |  rrf_score, n_lists FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS rrf_rank
         |  FROM f)
         |WHERE rrf_rank <= 10 ORDER BY query_id, rrf_rank""".stripMargin,

    // Hybrid retrieval: the bm25 CTE chain (shared with q_bm25_topk) ranks
    // the lexical leg, the q_cosine_topk pair construction ranks the dense
    // leg for query vector 0, and both feed q_rrf_fusion's sorted-fold RRF.
    "q_hybrid_retrieval" ->
      s"""WITH $embCte,
         |$bm25Ctes,
         |lexr AS (SELECT CAST(0 AS BIGINT) AS query_id, doc_id AS neighbor_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM s),
         |p AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |  ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) AS cos
         |  FROM n q JOIN n d ON q.vec_id = 0 AND d.vec_id <> q.vec_id),
         |cosr AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM p),
         |terms AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rnk AS DOUBLE)) AS term
         |  FROM lexr WHERE rnk <= 20
         |  UNION ALL
         |  SELECT query_id, neighbor_id,
         |    CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rnk AS DOUBLE)) AS term
         |  FROM cosr WHERE rnk <= 20),
         |f AS (SELECT query_id, neighbor_id,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(term))),
         |    (a, x) -> a + x) AS rrf_score,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |  FROM terms GROUP BY query_id, neighbor_id)
         |SELECT query_id, CAST(rrf_rank AS INT) AS rrf_rank, neighbor_id,
         |  rrf_score, n_lists FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS rrf_rank
         |  FROM f)
         |WHERE rrf_rank <= 10 ORDER BY rrf_rank""".stripMargin,

    "q_ann_ivf" -> annIvfOracle,

    // Cluster-quality twin: the annIvfOracle assignment (cosine argmax to
    // the fixed centroids), e4-quantized integer squared distances folded
    // in BIGINT per row, the cross-row total pinned as a digit string.
    "q_cluster_quality" ->
      s"""WITH $embCte,
         |cen AS (SELECT vec_id AS cid, e, nn FROM n WHERE vec_id < 10),
         |asg AS (SELECT vec_id, cluster_id FROM (
         |  SELECT d.vec_id, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |      ORDER BY ${duckDot("d.e", "c.e")} / sqrt(d.nn * c.nn) DESC, c.cid) AS rn
         |  FROM n d CROSS JOIN cen c) WHERE rn = 1),
         |sq AS (SELECT asg.cluster_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, len(d.e)+1), i ->
         |        (CAST(floor(d.e[i] * 10000.0 + 0.5) AS BIGINT)
         |          - CAST(floor(c.e[i] * 10000.0 + 0.5) AS BIGINT))
         |        * (CAST(floor(d.e[i] * 10000.0 + 0.5) AS BIGINT)
         |          - CAST(floor(c.e[i] * 10000.0 + 0.5) AS BIGINT)))),
         |      (a, x) -> a + x) AS s
         |  FROM asg JOIN n d ON d.vec_id = asg.vec_id
         |  JOIN cen c ON c.cid = asg.cluster_id)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(CAST(SUM(CAST(s AS DECIMAL(18,0))) AS DECIMAL(38,0))
         |    AS VARCHAR) AS inertia_num,
         |  CAST(CAST(CAST(SUM(CAST(s AS DECIMAL(18,0))) AS DECIMAL(38,0))
         |    AS VARCHAR) AS DOUBLE) / 100000000.0 AS inertia
         |FROM sq GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // Built-then-appended index state == built-at-once state with the same
    // centroids, so the probe answers — and the oracle — are identical.
    "q_ivf_append" -> annIvfOracle,

    // IVF tuning-curve twin: one probe pipeline per nProbe (probe sets
    // nest by the shared rank), each full-joined against the shared
    // exact top-3 and closed by the pair-set PRF, unioned into the curve.
    "q_ivf_curve" -> {
      val legs = Seq(1, 2, 3).map { np =>
        s"""probes$np AS (SELECT qid, cluster_id FROM pr WHERE rn <= $np),
           |cand$np AS (SELECT p.qid, a.vec_id AS nid
           |  FROM probes$np p JOIN asg a ON a.cluster_id = p.cluster_id
           |  WHERE a.vec_id <> p.qid),
           |pred$np AS (SELECT qid AS di, nid AS dj FROM (
           |  SELECT cand$np.qid, cand$np.nid,
           |    ROW_NUMBER() OVER (PARTITION BY cand$np.qid
           |      ORDER BY ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) DESC,
           |        cand$np.nid) AS rnk
           |  FROM cand$np JOIN n q ON q.vec_id = cand$np.qid
           |  JOIN n d ON d.vec_id = cand$np.nid) WHERE rnk <= 3),
           |c$np AS (SELECT
           |    CAST(SUM(inp * intr) AS BIGINT) AS tp,
           |    CAST(SUM(inp * (1 - intr)) AS BIGINT) AS fp,
           |    CAST(SUM((1 - inp) * intr) AS BIGINT) AS fn
           |  FROM (SELECT
           |      CASE WHEN p.di IS NOT NULL THEN 1 ELSE 0 END AS inp,
           |      CASE WHEN t.di IS NOT NULL THEN 1 ELSE 0 END AS intr
           |    FROM pred$np p FULL JOIN tr t
           |      ON p.di = t.di AND p.dj = t.dj))""".stripMargin
      }
      val selects = Seq(1, 2, 3).map { np =>
        s"""SELECT $np AS n_probe, COALESCE(tp, 0) AS tp,
           |  COALESCE(fp, 0) AS fp, COALESCE(fn, 0) AS fn,
           |  CASE WHEN COALESCE(tp,0) + COALESCE(fp,0) = 0 THEN NULL
           |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           |  CASE WHEN COALESCE(tp,0) + COALESCE(fn,0) = 0 THEN NULL
           |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
           |  CASE WHEN 2*COALESCE(tp,0) + COALESCE(fp,0) + COALESCE(fn,0) = 0
           |    THEN NULL
           |    ELSE CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
           |    END AS f1
           |FROM c$np""".stripMargin
      }
      s"""WITH $embCte,
         |cen AS (SELECT vec_id AS cid, e, nn FROM n WHERE vec_id < 10),
         |asg AS (SELECT vec_id, cluster_id FROM (
         |  SELECT d.vec_id, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |      ORDER BY ${duckDot("d.e", "c.e")} / sqrt(d.nn * c.nn) DESC, c.cid) AS rn
         |  FROM n d CROSS JOIN cen c) WHERE rn = 1),
         |qq AS (SELECT vec_id AS qid, e, nn FROM n
         |  WHERE vec_id BETWEEN 100 AND 109),
         |pr AS (SELECT qq.qid, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY qq.qid
         |      ORDER BY ${duckDot("qq.e", "c.e")} / sqrt(qq.nn * c.nn) DESC, c.cid) AS rn
         |  FROM qq CROSS JOIN cen c),
         |tr AS (SELECT qid AS di, nid AS dj FROM (
         |  SELECT qq.qid, d.vec_id AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY qq.qid
         |      ORDER BY ${duckDot("qq.e", "d.e")} / sqrt(qq.nn * d.nn) DESC,
         |        d.vec_id) AS rnk
         |  FROM qq JOIN n d ON d.vec_id <> qq.qid) WHERE rnk <= 3),
         |${legs.mkString(",\n")}
         |${selects.mkString("\nUNION ALL\n")}
         |ORDER BY n_probe""".stripMargin
    },

    // ANN-recall twin: annIvfOracle's probe pipeline emitting pairs,
    // full-joined against the exact top-3 pair set, then the pair-set
    // PRF closing (q_dedup_eval's construction).
    "q_ann_recall" ->
      s"""WITH $embCte,
         |cen AS (SELECT vec_id AS cid, e, nn FROM n WHERE vec_id < 10),
         |asg AS (SELECT vec_id, cluster_id FROM (
         |  SELECT d.vec_id, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |      ORDER BY ${duckDot("d.e", "c.e")} / sqrt(d.nn * c.nn) DESC, c.cid) AS rn
         |  FROM n d CROSS JOIN cen c) WHERE rn = 1),
         |qq AS (SELECT vec_id AS qid, e, nn FROM n
         |  WHERE vec_id BETWEEN 100 AND 109),
         |probes AS (SELECT qid, cluster_id FROM (
         |  SELECT qq.qid, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY qq.qid
         |      ORDER BY ${duckDot("qq.e", "c.e")} / sqrt(qq.nn * c.nn) DESC, c.cid) AS rn
         |  FROM qq CROSS JOIN cen c) WHERE rn <= 2),
         |cand AS (SELECT p.qid, a.vec_id AS nid
         |  FROM probes p JOIN asg a ON a.cluster_id = p.cluster_id
         |  WHERE a.vec_id <> p.qid),
         |pred AS (SELECT qid AS di, nid AS dj FROM (
         |  SELECT cand.qid, cand.nid,
         |    ROW_NUMBER() OVER (PARTITION BY cand.qid
         |      ORDER BY ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) DESC,
         |        cand.nid) AS rnk
         |  FROM cand JOIN n q ON q.vec_id = cand.qid
         |  JOIN n d ON d.vec_id = cand.nid) WHERE rnk <= 3),
         |tr AS (SELECT qid AS di, nid AS dj FROM (
         |  SELECT qq.qid, d.vec_id AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY qq.qid
         |      ORDER BY ${duckDot("qq.e", "d.e")} / sqrt(qq.nn * d.nn) DESC,
         |        d.vec_id) AS rnk
         |  FROM qq JOIN n d ON d.vec_id <> qq.qid) WHERE rnk <= 3),
         |j AS (SELECT
         |    CASE WHEN p.di IS NOT NULL THEN 1 ELSE 0 END AS inp,
         |    CASE WHEN t.di IS NOT NULL THEN 1 ELSE 0 END AS intr
         |  FROM pred p FULL JOIN tr t ON p.di = t.di AND p.dj = t.dj),
         |c AS (SELECT CAST(SUM(inp * intr) AS BIGINT) AS tp,
         |    CAST(SUM(inp * (1 - intr)) AS BIGINT) AS fp,
         |    CAST(SUM((1 - inp) * intr) AS BIGINT) AS fn
         |  FROM j)
         |SELECT COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp,
         |  COALESCE(fn, 0) AS fn,
         |  CASE WHEN COALESCE(tp,0) + COALESCE(fp,0) = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
         |  CASE WHEN COALESCE(tp,0) + COALESCE(fn,0) = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
         |  CASE WHEN 2*COALESCE(tp,0) + COALESCE(fp,0) + COALESCE(fn,0) = 0
         |    THEN NULL
         |    ELSE CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
         |    END AS f1
         |FROM c""".stripMargin,

        // Parallel unnests zip in DuckDB's SELECT list; range(0, len) matches
    // posexplode's 0-based pos. The unit quantization mirrors
    // groupCentroids bit for bit: ⌊v·10⁸ + 0.5⌋ is a fixed IEEE chain
    // (exact float→double widening, one rounded multiply, one rounded add,
    // exact floor), so NO renderer, decimal cast, or round() tie convention
    // of either engine is in the hash — the round-9 red gate traced to
    // DuckDB's version-sensitive float→VARCHAR rendering.
    "q_embed_centroid" ->
      """WITH e AS (SELECT label AS grp,
        |    unnest(range(0, len(embedding))) AS pos,
        |    unnest(embedding) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT grp, CAST(pos AS INT) AS pos, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 100000000 + CAST(0.5 AS DOUBLE))
        |    AS BIGINT)) AS BIGINT) AS sv
        |FROM e GROUP BY grp, pos ORDER BY grp, pos""".stripMargin,

    "q_embed_neardup" -> embedNearDupOracle,

    // The streaming twin emits the same pair set through bucket state and
    // attaches the identical exact cosine downstream — same answer.
    "q_stream_embed_neardup" -> embedNearDupOracle,

    "q_semdedup" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_concat([embedding[1] * CAST(2 AS FLOAT)], embedding[2:])
         |  FROM embeddings),
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM base),
         |n AS (SELECT vec_id, e, ${duckDot("e", "e")} AS nn FROM v),
         |cen AS (SELECT vec_id AS cid, e, nn FROM n WHERE vec_id < 10),
         |asg AS (SELECT vec_id, cluster_id FROM (
         |  SELECT d.vec_id, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |      ORDER BY ${duckDot("d.e", "c.e")} / sqrt(d.nn * c.nn) DESC, c.cid) AS rn
         |  FROM n d CROSS JOIN cen c) WHERE rn = 1),
         |dropped AS (SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b
         |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id
         |  JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE ${duckDot("na.e", "nb.e")} / sqrt(na.nn * nb.nn) >= 0.8)
         |SELECT asg.vec_id AS id, asg.cluster_id,
         |  (dropped.vec_id IS NULL) AS kept
         |FROM asg LEFT JOIN dropped ON dropped.vec_id = asg.vec_id
         |ORDER BY id""".stripMargin,

    "q_multimodal_features" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_bytes,
         |  CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
         |  ${duckHash("text")} AS byte_hash,
         |  CAST(length(text) // 64 + 1 AS INT) AS n_frames
         |FROM documents ORDER BY doc_id""".stripMargin,

    // dHash twin: every bit recomputed from sampled ascii() comparisons
    // (payload bytes == codepoints on the ASCII fixture), bands as 8-bit
    // sums, candidates from the band equi-join, hamming counted over the
    // joined bit tables — no 64-bit packing needed oracle-side.
    "q_phash_neardup" ->
      """WITH src AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000,
        |    'X' || substr(text, 2) FROM documents),
        |b AS (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS n FROM src),
        |bt AS (SELECT doc_id, n, text,
        |    unnest(range(0, 64)) AS j FROM b),
        |bits AS (SELECT doc_id, j,
        |    CASE WHEN n > 0 AND
        |        ascii(substr(text, CAST(j*n//65 + 1 AS INT), 1)) >
        |        ascii(substr(text, CAST((j+1)*n//65 + 1 AS INT), 1))
        |      THEN 1 ELSE 0 END AS bit
        |  FROM bt),
        |bd AS (SELECT doc_id, j // 8 AS bk,
        |    SUM(bit * (1 << (j % 8))) AS bv
        |  FROM bits GROUP BY doc_id, j // 8),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
        |  FROM bd a JOIN bd b
        |    ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |ham AS (SELECT doc_i, doc_j,
        |    CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hamming
        |  FROM cand
        |  JOIN bits x ON x.doc_id = doc_i
        |  JOIN bits y ON y.doc_id = doc_j AND y.j = x.j
        |  GROUP BY doc_i, doc_j)
        |SELECT doc_i, doc_j, hamming FROM ham
        |WHERE hamming <= 6 ORDER BY doc_i, doc_j""".stripMargin,

    "q_frame_sample" -> {
      // NB: the outer index must NOT be named `i` — duckHash's lambda
      // parameter `i` would shadow it inside the frame expression.
      val frame = "substr(text, CAST(fi*64+1 AS INT), 64)"
      s"""WITH f AS (SELECT doc_id, text,
         |  unnest(range(0, CAST((length(text)+63)//64 AS BIGINT))) AS fi
         |  FROM documents)
         |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
         |  CAST(length($frame) AS INT) AS n_bytes,
         |  ${duckHash(frame)} AS frame_hash
         |FROM f WHERE fi % 4 = 0
         |ORDER BY doc_id, frame_idx""".stripMargin
    },

    "q_mm_resize" ->
      // NB: lambda params avoid `i` (duckHash-convention shadowing note on
      // q_frame_sample). Non-contiguous resampled bytes can't reuse
      // duckHash (it folds a substring); the fold is inlined over the
      // resampled code list.
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |  FROM documents),
        |r AS (SELECT doc_id, n,
        |    CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
        |         ELSE list_transform(range(0, 64),
        |           ri -> CAST(ascii(substr(text, CAST((ri*n)//64 + 1 AS INT), 1)) AS BIGINT))
        |         END AS codes
        |  FROM d)
        |SELECT doc_id, n AS n_in,
        |  CAST(len(codes) AS INT) AS n_out,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS resized_hash
        |FROM r ORDER BY doc_id""".stripMargin,
  )
}
