package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.operators._
import graft.queries.QueryShared._

/** Text-analysis gates: stats, quality rules, language-ID, token
  * counting, fingerprints, BPE/tokenization/packing, mixing/selection,
  * governance/privacy — with their DuckDB oracles. Determinism
  * conventions: [[QueryDomain]].
  */
object TextAnalysisQueries extends QueryDomain {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text analysis ----------------------------------------------------
    "q_kmv_overlap" -> { (s, dir) =>
      import s.implicits._
      // Corpus-overlap estimation from COMPOSED KMV sketches
      // ([[Sketches.kmvMinima]] + [[Sketches.kmvOverlap]], Beyer et al.):
      // two document subsets with a planted ~50% overlap (doc_id %2 vs %3 —
      // intersection %6) each reduce to a bottom-64 sketch; union and
      // intersection cardinalities come from merging the SKETCHES, never
      // the value sets — the cross-corpus contamination-screen shape at
      // 100 TB. Exact counts ride along for error inspection.
      val h = docs(s, dir).filter($"text".isNotNull)
        .select($"doc_id", TextOps.polyHash($"text").as("h"))
      val a = h.filter($"doc_id" % 2 === 0)
        .agg(Sketches.kmvMinima($"h", 64).as("am"), countDistinct($"h").as("exact_a"))
      val b = h.filter($"doc_id" % 3 === 0)
        .agg(Sketches.kmvMinima($"h", 64).as("bm"), countDistinct($"h").as("exact_b"))
      val eu = h.filter($"doc_id" % 2 === 0 || $"doc_id" % 3 === 0)
        .agg(countDistinct($"h").as("exact_union"))
      val ei = h.filter($"doc_id" % 6 === 0)
        .agg(countDistinct($"h").as("exact_intersection"))
      a.crossJoin(b).crossJoin(eu).crossJoin(ei)
        .select(Sketches.kmvOverlap($"am", $"bm", 64).as("o"),
          $"exact_a", $"exact_b", $"exact_union", $"exact_intersection")
        .select($"o.n_union_min", $"o.union_kth", $"o.est_union",
          $"o.n_both", $"o.est_intersection",
          $"exact_a", $"exact_b", $"exact_union", $"exact_intersection")
    },

    "q_text_stats" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"lang", $"source",
        TextStats.nTokens($"text").as("nt"),
        TextStats.nStopwords($"text").as("ns"),
        TextStats.nPunct($"text").as("np"))
      d.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"nt").as("total_tokens"),
          sum($"ns").as("total_stopwords"),
          sum($"np").as("total_punct"),
          countDistinct($"source").as("n_sources"))
        .select($"lang", $"n_docs", $"total_tokens", $"total_stopwords", $"total_punct",
          $"n_sources",
          ($"total_tokens".cast("double") / $"n_docs".cast("double")).as("avg_tokens"),
          ($"total_stopwords".cast("double") / $"total_tokens".cast("double")).as("stop_ratio"))
        .orderBy($"lang")
    },

    "q_quality_score" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id",
        TextStats.nTokens($"text").as("n_tokens"),
        TextStats.nRegexTokens($"text").as("n_regex_tokens"),
        TextStats.nTokensEst($"text").as("n_tokens_est"),
        TextStats.nUniqueTokens($"text").as("n_uniq_tokens"),
        TextStats.nStopwords($"text").as("n_stopwords"),
        TextStats.qualityScore($"text").as("quality"))
        .orderBy($"doc_id")
    },

    "q_lang_id" -> { (s, dir) =>
      import s.implicits._
      val scoreCols = TextStats.LangProfiles.map { case (lang, m) =>
        TextStats.langScore($"text", m).as(s"s_$lang")
      }
      docs(s, dir)
        .select(($"doc_id" +: scoreCols :+
          TextStats.predictedLang($"text").as("pred_lang") :+
          $"lang".as("labeled_lang")): _*)
        .orderBy($"doc_id")
    },

    "q_doc_fingerprint" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select($"doc_id",
        TextOps.fingerprint($"text").as("fp"),
        length($"text").cast("long").as("n_chars_actual"))
        .orderBy($"doc_id")
    },

    "q_repetition_filter" -> { (s, dir) =>
      import s.implicits._
      // Gopher-style repetition quality rule: drop a document whose most
      // frequent word bigram covers more than 1/5 of its bigram occurrences.
      // Integer cross-compare only — no float threshold to diverge on.
      CorpusOps.repetitionStats(docs(s, dir), "doc_id", "text",
        n = 2, maxRepNum = 1, maxRepDen = 5)
        .orderBy($"doc_id")
    },

    "q_top_terms" -> { (s, dir) =>
      import s.implicits._
      // TF-IDF-style representative terms, ranked entirely in integers
      // (tf desc, df asc, token asc) — the argmax of tf·idf for any
      // monotone idf, with zero float determinism risk.
      CorpusOps.topTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy($"doc_id", $"rnk")
    },

    "q_vocab_build" -> { (s, dir) =>
      import s.implicits._
      // Tokenizer-vocabulary construction: the top-V corpus tokens by
      // frequency get dense contiguous ids 0..V−1 (count desc, token asc —
      // a total integer order, no float anywhere). Scale posture: one
      // combiner-reduced token count, then TakeOrderedAndProject for the
      // top-V (per-partition top-V + a V-sized driver merge — the full
      // vocabulary is never globally sorted); only the V survivors meet the
      // single-partition ranking window (bounded by contract, V = 1000).
      val V = 1000
      val counts = docs(s, dir)
        .select(explode(TextOps.tokens($"text")).as("token"))
        .filter(length($"token") > 0)
        .groupBy($"token").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token".asc)
        .limit(V)
      counts.withColumn("token_id",
          (row_number().over(Window.orderBy($"n".desc, $"token".asc)) - 1).cast("long"))
        .select($"token_id", $"token", $"n")
        .orderBy($"token_id")
    },

    "q_bpe_merges" -> { (s, dir) =>
      import s.implicits._
      // BPE trainer ([[CorpusOps.learnBpeMerges]]): the first 6 merge
      // rules learned over the corpus, completing the tokenizer chain
      // (q_vocab_build → q_bpe_merges → q_tokenize_ids). The corpus is
      // scanned once into a word-frequency table; every iteration runs over
      // that vocabulary-bounded table. The oracle unrolls the same 6
      // iterations as chained CTEs — pair counts, argmax, and a
      // list_reduce greedy fold bit-identical to the Spark `aggregate`
      // fold ([[QueryShared.bpeOracle]]).
      CorpusOps.learnBpeMerges(docs(s, dir), "doc_id", "text", 6)
        .orderBy($"rank")
    },

    "q_bpe_segment" -> { (s, dir) =>
      import s.implicits._
      // BPE encoder ([[CorpusOps.bpeSegment]]): the corpus vocabulary
      // segmented by replaying the 6 learned merges, then the encoder's
      // chained folds run over the vocabulary-bounded word table. The
      // merges are STAGED once per (sf, JVM) ([[Staging.memo]]) — they
      // are a pure 6-row function of the fixture, and re-learning them
      // in-gate billed the trainer's 6 iterative jobs to every rep of
      // this ENCODER gate (the r11 driver bench recorded it at 49 s
      // median — 19% of the whole sweep; the trainer stays live-measured
      // under its own q_bpe_merges gate). Exploded to scalar
      // (word, wc, pos, piece) rows for the driver's comparator; the
      // oracle replays the same chain and explodes its final vocab state.
      val d = docs(s, dir)
      val merges = Staging.memo("bpe_merges6", dir) {
        CorpusOps.learnBpeMerges(d, "doc_id", "text", 6)
          .orderBy($"rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
      }
      CorpusOps.bpeSegment(d, "doc_id", "text", merges)
        .select($"word", $"wc", posexplode($"syms").as(Seq("pos", "piece")))
        .select($"word", $"wc", $"pos".cast("int").as("pos"), $"piece")
        .orderBy($"word", $"pos")
    },

    "q_tokenizer_fertility" -> { (s, dir) =>
      import s.implicits._
      // Per-language tokenizer FERTILITY ([[CorpusOps.tokenizerFertility]]
      // — subwords/word, bytes/subword, chars/subword under the learned
      // merges): the multilingual tokenizer-eval table that catches a
      // subword vocabulary starving one language of effective context
      // BEFORE training does. Shares q_bpe_segment's staged 6-merge memo
      // (the trainer stays measured under q_bpe_merges); segmentation is
      // language-independent, so distinct words segment once
      // (vocab-bounded) and join onto per-(lang, word) exact counts. All
      // totals exact token-weighted integers; the three ratios are single
      // IEEE divisions — every column hash-gates.
      val d = docs(s, dir)
      val merges = Staging.memo("bpe_merges6", dir) {
        CorpusOps.learnBpeMerges(d, "doc_id", "text", 6)
          .orderBy($"rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
      }
      CorpusOps.tokenizerFertility(d, "lang", "text", merges)
        .orderBy($"lang")
    },

    "q_bigram_lm" -> { (s, dir) =>
      import s.implicits._
      // Count-based bigram LM slice: the full conditional distribution
      // P(w2 | w1) for three context words, as EXACT integer numerator /
      // denominator pairs (the transcendental-free convention — a float
      // probability could never be hash-gated; n_bigram/n_context is the
      // training artifact anyway). Contexts filter BEFORE the aggregate, so
      // only selected rows shuffle. The (w1, w2) hash aggregate is the
      // scale path: combiner-reduced, high-cardinality keys.
      val ctx = Seq("the", "a", "of")
      val bg = docs(s, dir)
        .select(explode(CorpusOps.wordNgramsAll($"text", 2)).as("bg"))
        .select(split($"bg", " ").as("p"))
        .select($"p"(0).as("w1"), $"p"(1).as("w2"))
        .filter($"w1".isin(ctx: _*))
      val counts = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_bigram"))
      val totals = counts.groupBy($"w1").agg(sum($"n_bigram").as("n_context"))
      counts.join(totals, "w1")
        .select($"w1", $"w2", $"n_bigram", $"n_context")
        .orderBy($"w1", $"w2")
    },

    "q_tokenize_ids" -> { (s, dir) =>
      import s.implicits._
      // Corpus tokenization against the learned vocabulary
      // ([[CorpusOps.tokenizeToIds]]) — the step between q_vocab_build and
      // sequence packing: every document becomes an id sequence, in exact
      // document order (order carried as (pos, id) data through the
      // aggregate, never assumed from partitioning). V = 16 so the OOV
      // branch BITES at this fixture (rare tokens map to −1), not just the
      // happy path. The gate re-explodes the assembled ids ARRAY to scalar
      // (pos, token_id) rows — the assembly is fully exercised (a wrong
      // order or element surfaces as a position mismatch) while the
      // driver's value comparator only ever sees scalars, the convention
      // of every other gate. Vocabulary selection runs hash-keyed with
      // tie-complete string recovery ([[CorpusOps.topTokens]], r21) —
      // same top-16 by (n desc, token asc), zero per-token heap strings
      // in the corpus-wide count.
      val d = docs(s, dir)
      val vocab = CorpusOps.topTokens(d, "text", 16)
        .withColumn("token_id",
          (row_number().over(Window.orderBy($"n".desc, $"token".asc)) - 1).cast("long"))
      CorpusOps.tokenizeToIds(d, "doc_id", "text", vocab)
        .select($"doc_id", $"n_tokens", posexplode($"ids").as(Seq("pos", "token_id")))
        .orderBy($"doc_id", $"pos")
    },

    "q_length_batches" -> { (s, dir) =>
      import s.implicits._
      // Length-bucketed batching ([[CorpusOps.lengthBatches]]): docs
      // bucketed by token count (width 16), dealt into 4 streams per
      // bucket (the hot-bucket scale-out knob), each (bucket, stream) cut
      // into batches of 8 in (n_tokens, doc_id) order — the
      // padding-efficiency layout for non-packed training. Pure function
      // of the corpus, so the whole assignment is hash-gateable.
      CorpusOps.lengthBatches(docs(s, dir), "doc_id", "text",
        bucketWidth = 16, batchSize = 8, nStreams = 4)
        .orderBy($"doc_id")
    },

    "q_shard_balance" -> { (s, dir) =>
      import s.implicits._
      // Token-balanced training-export sharding
      // ([[CorpusOps.balancedShards]]): snake (boustrophedon) dealing over
      // the (n_tokens DESC, doc_id) global rank — the rank is the
      // two-phase zipWithIndex shape, never a single-partition window —
      // so each of the 6 shards draws exactly one doc per round, largest
      // first, where a doc_id-hash shard co-locates whale docs whenever
      // their ids collide mod N. Pure integer arithmetic over the rank;
      // the balance property itself is spec-pinned in CorpusOpsSpec.
      CorpusOps.balancedShards(docs(s, dir), "doc_id", "text", nShards = 6)
        .orderBy($"doc_id")
    },

    "q_equidepth_bins" -> { (s, dir) =>
      import s.implicits._
      // Equi-depth binning ([[RankOps.equidepthBins]] over
      // [[RankOps.globalRank]]): 8 bins of lineitem prices, each holding
      // n/8 ± 1 rows by construction. The rank is the zipWithIndex
      // two-phase shape — never a single-partition window — and the bin is
      // pure integer arithmetic ⌊(rank−1)·k/n⌋ over the total order
      // (price, orderkey, linenumber), so the assignment is
      // engine-independent. Gated per bin: count, exact double min/max
      // (values pass through unchanged — no float arithmetic), and the
      // orderkey sum pinning WHICH rows landed in the bin (two equal
      // prices straddling a boundary differ in key_sum if swapped).
      val l = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      RankOps.equidepthBins(l, $"l_extendedprice",
          Seq($"l_orderkey", $"l_linenumber"), k = 8, binCol = "bin")
        .groupBy($"bin")
        .agg(count(lit(1)).as("cnt"),
          min($"l_extendedprice").as("min_price"),
          max($"l_extendedprice").as("max_price"),
          sum($"l_orderkey").as("key_sum"))
        .orderBy($"bin")
    },

    "q_sorted_neighbors" -> { (s, dir) =>
      import s.implicits._
      // Sorted-neighborhood blocking ([[RankOps.sortedNeighborhoodPairs]],
      // Hernández & Stolfo SIGMOD'95): documents globally ordered by
      // (char length, doc_id); every pair within 4 rank positions becomes
      // a dedup candidate, emitted exactly once by the adjacent-bucket
      // join — never an all-pairs product, never a one-task sort. The
      // oracle reproduces the rank with a window and the pairing with a
      // rank-distance self-join.
      val d = t(s, dir, "documents")
        .select($"doc_id", length($"text").as("tl"))
      orderedSmall(
        RankOps.sortedNeighborhoodPairs(d, Seq($"tl", $"doc_id"), window = 4)
          .select($"doc_id_i", $"doc_id_j", $"rank_dist"),
        $"doc_id_i", $"doc_id_j")
    },

    "q_curation_funnel" -> { (s, dir) =>
      import s.implicits._
      // The END-TO-END curation pipeline as one query — what a user of this
      // engine actually runs before training: exact dedup (keep min-id per
      // text), token-length band, Gopher repetition rule, quality-score
      // floor, language-consistency check — applied CUMULATIVELY, reported
      // as a survivor funnel (stage_id, stage, n_docs). One pass: every
      // stage is a per-doc flag (the repetition flag joins in from its own
      // two aggregates), the funnel one aggregate of flag products, the
      // 6-row unpivot a driver-side stack. Thresholds are set where the
      // fixture's distributions actually SPLIT (every stage drops rows —
      // a funnel of no-op stages gates nothing): duplicates synthesized by
      // the id-shifted union (the q_dedup_exact fixture trick), token band
      // 24..80, top-bigram share ≤ 1/16, quality ≥ 0.68 (the median).
      val base = t(s, dir, "documents").select($"doc_id", $"text", $"lang")
      val d = base.unionByName(base.withColumn("doc_id", $"doc_id" + 1000000L))
      val w = Window.partitionBy($"text").orderBy($"doc_id")
      val rep = CorpusOps.repetitionStats(d, "doc_id", "text", n = 2,
        maxRepNum = 1, maxRepDen = 16).select($"doc_id", $"keep".as("rep_keep"))
      d.withColumn("is_canon", (row_number().over(w) === 1).cast("long"))
        .withColumn("len_ok",
          TextStats.nTokens($"text").between(24, 80).cast("long"))
        .join(rep, Seq("doc_id"), "left")
        .withColumn("rep_ok", coalesce($"rep_keep", lit(0L)))
        .withColumn("qual_ok", (TextStats.qualityScore($"text") >= 0.68).cast("long"))
        .withColumn("lang_ok", (TextStats.predictedLang($"text") === $"lang").cast("long"))
        .agg(
          count(lit(1)).as("n_raw"),
          sum($"is_canon").as("n_dedup"),
          sum($"is_canon" * $"len_ok").as("n_len"),
          sum($"is_canon" * $"len_ok" * $"rep_ok").as("n_rep"),
          sum($"is_canon" * $"len_ok" * $"rep_ok" * $"qual_ok").as("n_qual"),
          sum($"is_canon" * $"len_ok" * $"rep_ok" * $"qual_ok" * $"lang_ok")
            .as("n_lang"))
        .selectExpr("""stack(6,
          1, 'raw',        n_raw,
          2, 'dedup',      n_dedup,
          3, 'length',     n_len,
          4, 'repetition', n_rep,
          5, 'quality',    n_qual,
          6, 'language',   n_lang) AS (stage_id, stage, n_docs)""")
        .select($"stage_id".cast("int").as("stage_id"), $"stage", $"n_docs")
        .orderBy($"stage_id")
    },

    "q_doc_surprisal" -> { (s, dir) =>
      import s.implicits._
      // Perplexity-style quality scoring at integer resolution
      // ([[CorpusOps.surprisal]]): per-token −log₂ p via bit lengths, so
      // the "LM score" is exact integers + one final division — the only
      // formulation of this filter both engines can agree on bit-for-bit.
      CorpusOps.surprisal(docs(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    },

    "q_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      // Exact heavy hitters over word BIGRAMS (vocab 916 ≫ capacity 800 at
      // this SF, so the Misra–Gries pass genuinely evicts) via the two-pass
      // pipeline ([[CorpusOps.heavyHitters]]): bounded-state MG candidates,
      // then an exact candidate-only count — output identical to a full
      // GROUP BY + HAVING (which is exactly what the oracle runs) without
      // ever shuffling the vocabulary.
      val grams = docs(s, dir)
        .select(explode(CorpusOps.wordNgramsAll($"text", 2)).as("gram"))
      CorpusOps.heavyHitters(grams, "gram", threshNum = 1, threshDen = 800)
        .orderBy($"item")
    },

    "q_seq_pack" -> { (s, dir) =>
      import s.implicits._
      // Pretraining sequence packing ([[CorpusOps.packSequences]]): the
      // concat-and-split layout over 8 parallel streams with 128-token
      // sequences — which training sequence(s) each document lands in,
      // with zero padding waste. The offset window shuffles once on the
      // stream key; nStreams is the scale-out knob.
      //
      // Round-9 post-mortem bisect: this gate emits only the per-document
      // inputs (stream, token count); the window-derived offsets/sequence
      // indices gate separately as q_seq_pack_offsets, so a future red row
      // pins the divergence to tokenization vs window arithmetic. Empty
      // text is filtered on BOTH sides — `split('', ' ')` / `string_split`
      // semantics for the empty string are a known cross-version hazard.
      CorpusOps.packSequences(docs(s, dir).filter($"text" =!= ""), "doc_id", "text",
        seqLen = 128, nStreams = 8)
        .select($"doc_id", $"stream", $"n_tokens")
        .orderBy($"doc_id")
    },

    "q_seq_pack_offsets" -> { (s, dir) =>
      import s.implicits._
      // The window half of the packing gate (see q_seq_pack): per-stream
      // exclusive running offsets and the derived sequence spans.
      CorpusOps.packSequences(docs(s, dir).filter($"text" =!= ""), "doc_id", "text",
        seqLen = 128, nStreams = 8)
        .select($"doc_id", $"start_off", $"first_seq", $"last_seq",
          $"n_seqs_spanned")
        .orderBy($"doc_id")
    },

    "q_chunk_docs" -> { (s, dir) =>
      import s.implicits._
      // Context-window chunking ([[CorpusOps.chunkByTokens]]): 64-token
      // windows advancing by 48 (16-token overlap) — the RAG/pretraining
      // prep step that turns documents into model-sized pieces. Zero
      // shuffles: a per-row generate whose token array is bound once ahead
      // of the explode; chunk counts and tail lengths are integer `div`
      // arithmetic shared verbatim with the oracle.
      CorpusOps.chunkByTokens(docs(s, dir), "doc_id", "text",
        chunkSize = 64, overlap = 16)
        .orderBy($"doc_id", $"chunk_id")
    },

    "q_bm25_topk" -> { (s, dir) =>
      import s.implicits._
      // Lexical retrieval ([[CorpusOps.bm25]]): top-20 docs for a 3-term
      // keyword query — the sparse complement to q_cosine_topk's dense
      // ranking (fuse via rrfFuse). The ln-free rational idf keeps the
      // emitted score bit-identical to the DuckDB twin (see the scaladoc);
      // the SCORE itself is gated, not just the ordering.
      CorpusOps.bm25(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("join", "spark", "vector"), k = 20)
        .orderBy($"rnk")
    },

    "q_bm25_indexed" -> { (s, dir) =>
      import s.implicits._
      // The same retrieval THROUGH the persisted index
      // ([[CorpusOps.saveTextIndex]] + [[bm25Indexed]]): postings bucketed+
      // sorted by token, built once per (sf, JVM), queried without
      // re-tokenizing the corpus — build-once/probe-many, the text twin of
      // the persisted IVF index. Shares q_bm25_topk's oracle verbatim:
      // identical output is the round-trip contract.
      val idx = Staging.fixtureName("bm25_idx_", dir)
      Staging.dir("bm25idx", dir, "documents") { _ =>
        CorpusOps.saveTextIndex(docs(s, dir), "doc_id", "text", idx, buckets = 8)
      }
      CorpusOps.bm25Indexed(s, idx, Seq("join", "spark", "vector"), k = 20)
        .orderBy($"rnk")
    },

    "q_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      // Dataset-mixing sampler: per-language keep rates, decided by a
      // content hash (base 131 — independent of q_split_hash's base-31
      // train/val/test decision). fr/zh have no configured rate ⇒ dropped.
      CorpusOps.stratifiedHashSample(docs(s, dir), $"lang", $"text",
        Seq(("en", 1, 2), ("de", 1, 4), ("es", 1, 10)), hashBase = 131L)
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    },

    "q_weighted_sample" -> { (s, dir) =>
      import s.implicits._
      // Importance-weighted corpus draw ([[CorpusOps.weightedSample]], A-ES):
      // 40 docs weighted by length — longer documents proportionally more
      // likely, sample exact and reproducible (hash-uniform, base 151 so the
      // draw is independent of the base-31 split and base-131 strata
      // decisions). The float priority never reaches the output; the rank's
      // ORDERING is gated instead, with doc_id as the total tiebreak.
      CorpusOps.weightedSample(docs(s, dir), $"text", $"n_chars", $"doc_id", k = 40)
        .select($"sample_rank", $"doc_id", $"lang", $"n_chars")
        .orderBy($"sample_rank")
    },

    "q_temperature_mix" -> { (s, dir) =>
      import s.implicits._
      // α=1/2 temperature mixing over the (skewed) language distribution
      // ([[CorpusOps.temperatureSample]]): each lang kept at rate c/√n_lang,
      // so expected counts flatten from n_lang to 4·√n_lang — en dominates
      // the corpus but not the mix. The threshold test is integer-exact
      // (u²·n < c²m², DECIMAL(38,0) product), so the keep set is
      // bit-identical in DuckDB; base 173 keeps the draw independent of the
      // split/strata/weighted decisions.
      CorpusOps.temperatureSample(docs(s, dir), $"lang", $"text", c = 4)
        .select($"doc_id", $"lang")
        .orderBy($"doc_id")
    },

    "q_token_budget_mix" -> { (s, dir) =>
      import s.implicits._
      // Token-budget source mixing ([[CorpusOps.tokenBudgetMix]]): each
      // source down-sampled to its own token budget by taking docs in
      // deterministic content-hash order until the budget is spent — the
      // "B_s tokens from source s" stage of a training mix. Budgets are
      // DIFFERENTIATED by the numeric source suffix (300 + 100·(suffix%4))
      // so the budget relation is exercised, not a constant; base 193
      // keeps the draw independent of the split/strata/weighted/temperature
      // decisions. The two-phase bucket-census plan (no whole-source
      // single-task cumsum) is output-identical to the oracle's naive
      // window — the equivalence CorpusOpsSpec pins directly.
      val srcs = docs(s, dir).select($"source").distinct()
        .as[String].collect().toSeq.sorted // config-sized: |sources| rows
      val budgets = srcs.map(src =>
        src -> (300L + 100L * (src.stripPrefix("src").toLong % 4)))
      CorpusOps.tokenBudgetMix(docs(s, dir), "doc_id", "source", "text", budgets)
        .orderBy($"doc_id")
    },

    "q_partition_prune" -> { (s, dir) =>
      import s.implicits._
      // Hive-partitioned event-log layout ([[ScaleJoins.writePartitioned]]):
      // events staged partitioned by event_type, then read with a predicate
      // on the partition column — pruned at PLANNING time (PartitionFilters,
      // plan-guarded), so the other event types' files are never opened. At
      // 100 TB this layout turns "one event type out of a year of logs"
      // from a full scan into a directory listing. ts/props are dropped at
      // the write: the layout story is the partition column, and NANOS
      // timestamps don't survive a parquet re-write under nanosAsLong.
      val p = Staging.dir("evpart", dir, "events")(path =>
        ScaleJoins.writePartitioned(
          events(s, dir).select($"event_id", $"user_id", $"event_type", $"value"),
          path, Seq("event_type")))
      ScaleJoins.readPartitioned(s, p)
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_purchases"), dsum($"value").as("total_value"))
        .orderBy($"user_id")
    },

    "q_corpus_diff" -> { (s, dir) =>
      import s.implicits._
      // Dataset-versioning diff ([[MergeOps.snapshotDiff]]): two synthetic
      // corpus snapshots — v2 drops every doc_id % 5 = 0, gains every
      // doc_id % 7 = 0 that v1 lacked, and rewrites text for doc_id % 11 = 0
      // — classified added/removed/changed/unchanged per key with null-safe
      // column comparison. One full-outer key join; the modifications are
      // deterministic string ops, so both engines build identical snapshots.
      val d = docs(s, dir).select($"doc_id", $"text")
      val v1 = d.filter(pmod($"doc_id", lit(7L)) =!= 0)
      val v2 = d.filter(pmod($"doc_id", lit(5L)) =!= 0)
        .withColumn("text",
          when(pmod($"doc_id", lit(11L)) === 0, concat($"text", lit(" v2")))
            .otherwise($"text"))
      MergeOps.snapshotDiff(v1, v2, Seq("doc_id"))
        .orderBy($"doc_id")
    },

    "q_token_shift" -> { (s, dir) =>
      import s.implicits._
      // Top-25 TOKEN MOVERS between corpus versions
      // ([[CorpusOps.tokenShift]]): q_corpus_diff's v1/v2 construction,
      // ranked by the exact cross-multiplied probability-shift numerator
      // — the "WHAT moved" diagnosis next to q_token_drift's "did it
      // move" number. Vocabulary-keyed full-outer join, TakeOrdered cut,
      // digit-string pin.
      val d = docs(s, dir).select($"doc_id", $"text")
      val v1 = d.filter(pmod($"doc_id", lit(7L)) =!= 0)
      val v2 = d.filter(pmod($"doc_id", lit(5L)) =!= 0)
        .withColumn("text",
          when(pmod($"doc_id", lit(11L)) === 0, concat($"text", lit(" v2")))
            .otherwise($"text"))
      CorpusOps.tokenShift(v1, v2, "text", k = 25)
        .orderBy($"rnk")
    },

    "q_quality_rules" -> { (s, dir) =>
      import s.implicits._
      // Heuristic QUALITY-RULE report ([[CorpusOps.qualityRules]]): the
      // Gopher/C4 composite screen (duplicate-line fraction, top-2-gram
      // character coverage, symbol/bullet/ellipsis rates, word-length
      // band) + ONE integer-exact keep flag — the curation stage that
      // runs BEFORE dedup. The fixture's single-line texts are reflowed
      // (literal " line " → \n) so the line rules bite; every flag input
      // is an integer cross-product, every ratio a single IEEE division.
      // Single scan, join-free, shuffle-free (plan-guarded): the top-2-
      // gram mode is an in-row sort+fold, never an explode.
      val d = docs(s, dir).select($"doc_id",
        regexp_replace($"text", " line ", "\n").as("text"))
      CorpusOps.qualityRules(d, "doc_id", "text", minWords = 30)
        .orderBy($"doc_id")
    },

    "q_stream_quality" -> { (s, dir) =>
      import s.implicits._
      // ONLINE quality filtering ([[CorpusOps.qualityRules]] unchanged on
      // a streaming frame): the operator is pure per-row expressions —
      // zero state, zero shuffle — so the ingest-time quality gate is the
      // batch operator applied to micro-batches. Emissions equal the
      // batch gate row-for-row; the SAME oracle gates both.
      val staged = Staging.streamDocsDir(s, dir)
      val ss = Staging.streamSession(s)
      val src = Staging.replay(ss, staged, oneFilePerBatch = true)
        .filter($"doc_id" >= 0) // drop the replay's watermark sentinels
        .select($"doc_id", regexp_replace($"text", " line ", "\n").as("text"))
      val out = CorpusOps.qualityRules(src, "doc_id", "text", minWords = 30)
      Staging.drain(ss, out).orderBy($"doc_id")
    },

    "q_lang_ngram" -> { (s, dir) =>
      import s.implicits._
      // LANGUAGE ID ([[LangId]]): Cavnar–Trenkle character-trigram rank
      // profiles trained on the labeled three-quarters, the probe quarter
      // classified by the integer out-of-place distance (missing gram =
      // topK penalty, ties to the smaller language) — the multilingual-mix
      // gate in front of q_temperature_mix. Profiles broadcast; every
      // shuffle is doc-keyed.
      val d = docs(s, dir)
      val train = d.filter(pmod($"doc_id", lit(4L)) =!= 3)
      val probe = d.filter(pmod($"doc_id", lit(4L)) === 3)
      val prof = graft.operators.LangId.profiles(
        train, "text", "lang", gramLen = 3, topK = 64)
      graft.operators.LangId.classify(
          probe, "doc_id", "text", prof, gramLen = 3, topK = 64)
        .join(probe.select($"doc_id", $"lang".as("lang_true")), Seq("doc_id"))
        .select($"doc_id", $"lang_true", $"lang_pred", $"dist",
          ($"lang_true" === $"lang_pred").as("correct"))
        .orderBy($"doc_id")
    },

    "q_zorder_scan" -> { (s, dir) =>
      import s.implicits._
      // Z-ORDER data layout ([[ScaleJoins.writeZOrdered]]): lineitem staged
      // Morton-interleaved on (l_partkey, l_suppkey), then scanned with a
      // box predicate on BOTH keys. The layout gives every staged file
      // tight footer min/max on both columns at once, so the pushed range
      // filters skip the files outside the box — single-column sorting can
      // only do this for its own column (footers proven in ZOrderSpec; the
      // z bit-interleave arithmetic is what this gate pins cross-engine).
      val p = Staging.dir("zorder", dir, "lineitem") { path =>
        val li = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
        // bits sized to the fixture's key domain (one max-scan at staging;
        // a hardcoded 15 failed the sf1 sweep's shifted keys). Wider
        // interleave leaves the z of every in-range key UNCHANGED (leading
        // zeros contribute nothing), so the oracle's range(0, 15) formula
        // still matches all output rows — the box caps them below 2^15.
        val mx = li.agg(greatest(max($"l_partkey"), max($"l_suppkey")))
          .head().getLong(0)
        val bits = math.max(15, 64 - java.lang.Long.numberOfLeadingZeros(mx))
        ScaleJoins.writeZOrdered(li, path, "l_partkey", "l_suppkey", bits = bits)
      }
      // Box bounds sit inside every SF's key domain (suppkey scales with
      // SF; [2,19]×[100,1499] is non-empty from sf0.001 up).
      s.read.parquet(p)
        .filter($"l_partkey".between(100, 1499) && $"l_suppkey".between(2, 19))
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey", $"z")
        // the synthetic fixture's (orderkey, linenumber) is NOT unique, so
        // the total order includes every column (ties = identical rows)
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
    },

    "q_value_outliers" -> { (s, dir) =>
      import s.implicits._
      // Per-event-type z-score screen ([[StatOps.zscoreOutliers]]): the 3
      // most anomalous events of each type. Moments are exact decimal sums
      // (order-free), so the emitted z itself is hash-gateable — a plain
      // double avg/stddev could not be.
      StatOps.zscoreOutliers(events(s, dir), "event_type", "value", "event_id", k = 3)
        .orderBy($"event_type", $"rnk")
    },

    "q_robust_outliers" -> { (s, dir) =>
      import s.implicits._
      // Median/MAD robust screen ([[StatOps.robustOutliers]]) — the
      // complement to the z-score pass for columns whose extremes corrupt
      // the moments themselves. Every gated column is a BIGINT in integer
      // ten-thousandths, quantized by the IEEE chain ⌊v·10⁴+0.5⌋ on BOTH
      // engines — the DECIMAL-output form was hash-red at the driver for
      // two rounds while passing on local DuckDB (double→decimal tie
      // rounding is version-sensitive).
      StatOps.robustOutliers(events(s, dir), "event_type", "value")
        .orderBy($"grp")
    },

    "q_correlation" -> { (s, dir) =>
      import s.implicits._
      // Per-group Pearson correlation + sample covariance
      // ([[StatOps.correlation]]): exact decimal moments close into one
      // fixed double expression, so the statistic itself is hash-gateable —
      // the built-in corr/covar_samp accumulate order-dependent doubles and
      // could never be. One six-number hash aggregate per group.
      StatOps.correlation(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice")
        .orderBy($"l_returnflag")
    },

    "q_minmax_scale" -> { (s, dir) =>
      import s.implicits._
      // Per-type min-max normalization ([[StatOps.minMaxScale]]): the
      // feature-scaling stage before score fusion / model input. Every
      // scaled double is a fixed IEEE chain over exact min/max bounds,
      // so the normalized COLUMN hash-gates row by row; the value stream
      // never shuffles (bounds broadcast back).
      StatOps.minMaxScale(
        events(s, dir).select($"event_id", $"event_type", $"value"),
        "event_type", "value")
        .select($"event_id", $"event_type", $"scaled")
        .orderBy($"event_id")
    },

    "q_mode" -> { (s, dir) =>
      import s.implicits._
      // Per-flag exact mode of the quantity ([[StatOps.mode]]): the
      // location stat SQL's own mode() cannot hash-gate (engine-defined
      // tie choice) — here ties break to the SMALLEST value via a
      // struct-argmax over level rows, no window, no sort.
      StatOps.mode(t(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .orderBy($"l_returnflag")
    },

    "q_corr_matrix" -> { (s, dir) =>
      import s.implicits._
      // Pairwise Pearson matrix over four lineitem measures
      // ([[StatOps.correlationMatrix]]): all six off-diagonal r's from
      // ONE combiner-reduced moment pass (n + 4 sums + 4 square-sums +
      // 6 cross-sums in a single aggregate row), each closing with
      // q_correlation's exact decimal/digit-string chain.
      StatOps.correlationMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy($"col_x", $"col_y")
    },

    "q_kendall_tau" -> { (s, dir) =>
      import s.implicits._
      // Per-lang EXACT Kendall tau-b ([[StatOps.kendallTau]]) of document
      // length vs whitespace token count — the monotone-not-linear rank
      // check Pearson r can't make. Value-range-grid decomposition:
      // cross-bucket pairs decided by a ≤B² histogram, same-bucket pairs
      // by per-slice Fenwick sweeps — never an all-pairs join, never one
      // task per group. All five pair classes are exact longs; the O(n²)
      // pairwise oracle checks every one; tau_b is one fixed
      // cast/multiply/sqrt/divide chain of exact operands. buckets = 8 so
      // the fixture's ~100-row groups exercise all three pair classes.
      StatOps.kendallTau(
        docs(s, dir).select($"lang", $"n_chars".as("x"),
          TextStats.nTokens($"text").as("y")),
        "lang", "x", "y", buckets = 8)
        .orderBy($"lang")
    },

    "q_itemsets" -> { (s, dir) =>
      import s.implicits._
      // Frequent token itemsets up to size 3
      // ([[CorpusOps.frequentItemsets]], Apriori VLDB'94): per-document
      // distinct-token sets, level-wise candidate generation with the
      // full monotonicity prune (pairs only over F1 survivors; triples
      // only from frequent pairs sharing their middle item with the
      // third face checked before counting). Lossless by monotonicity,
      // so the oracle's unpruned self-join definition must match
      // exactly. Support = 60% of the corpus — exactly the oracle's
      // literal 300 at both gate SFs (500 docs each) and the realistic
      // RELATIVE threshold at bench scale; the count action doubles as
      // the tokenized-set memo's materializer (no separate scan).
      CorpusOps.frequentItemsetsRel(docs(s, dir), "doc_id", "text", 3, 5)
        .orderBy($"k", $"item1", $"item2", $"item3")
    },

    "q_hist2d" -> { (s, dir) =>
      import s.implicits._
      // 2-D density grid per lang ([[StatOps.hist2d]]): the heatmap
      // behind the length-vs-token-count profile, on q_kendall_tau's
      // frame. Equal-width bucket assignment is a fixed IEEE chain over
      // exact min/max aggregates, so the CELLS themselves hash-gate —
      // output is ≤ 64 aggregate cells per group, never data rows.
      StatOps.hist2d(
        docs(s, dir).select($"lang", $"n_chars".as("x"),
          TextStats.nTokens($"text").as("y")),
        "lang", "x", "y", bucketsX = 8, bucketsY = 8)
        .orderBy($"lang", $"bx", $"by")
    },

    "q_spearman" -> { (s, dir) =>
      import s.implicits._
      // Per-lang EXACT Spearman's rho ([[StatOps.spearman]]) on the
      // q_kendall_tau frame — rank displacement next to tau's pair
      // inversions. Doubled midranks from value-LEVEL aggregates (the
      // rocAuc construction), integer centering u = midrank2 − (n+1)
      // (Σ midrank2 = n(n+1) exactly, ties included), (18,0)×(19,0)
      // decimal sums pinned alongside the one-chain rho.
      StatOps.spearman(
        docs(s, dir).select($"lang", $"n_chars".as("x"),
          TextStats.nTokens($"text").as("y")),
        "lang", "x", "y")
        .orderBy($"lang")
    },

    "q_token_drift" -> { (s, dir) =>
      import s.implicits._
      // Per-source unigram-distribution drift vs the rest of the corpus
      // ([[CorpusOps.tokenDrift]]): exact total-variation distance — the
      // numerator an exact DECIMAL(38,0) of cross-multiplied counts
      // (|cᵢ·m − dᵢ·n|, absent-token mass in closed form, no log anywhere
      // so the statistic hash-gates where KL/JS could not). One explode,
      // two hash aggregates, one vocabulary-sized equi-join.
      CorpusOps.tokenDrift(docs(s, dir), "text", "source")
        .orderBy($"source")
    },

    "q_source_overlap" -> { (s, dir) =>
      import s.implicits._
      // Inter-source vocabulary Jaccard matrix
      // ([[CorpusOps.sourceOverlap]]): which feeds duplicate each
      // other's content domain — intersections from the token-keyed
      // self-join (a token in k sources contributes C(k,2) pair rows,
      // never an all-pairs source scan), unions closed from per-source
      // set sizes. Gate #200.
      CorpusOps.sourceOverlap(docs(s, dir), "text", "source")
        .orderBy($"src_i", $"src_j")
    },

    "q_simpson" -> { (s, dir) =>
      import s.implicits._
      // Per-source language balance ([[CorpusOps.classBalance]]):
      // Simpson's index + effective number of classes — the multilingual
      // mix check, log-free so it hash-gates where Shannon diversity
      // could not. Exact integer Σc² as decimals, two IEEE divisions.
      CorpusOps.classBalance(docs(s, dir), "source", "lang")
        .orderBy($"source")
    },

    "q_gini" -> { (s, dir) =>
      import s.implicits._
      // Per-source Gini of token-frequency concentration
      // ([[CorpusOps.vocabGini]]): the boilerplate/template early-warning
      // next to q_token_drift's distribution shift. Exact by the rank
      // identity Σᵢⱼ|cᵢ−cⱼ| = 2Σ(2i−m−1)c — tie order provably
      // result-free — with the weighted sum as (19,0)×(18,0) decimals and
      // the rank window over VOCABULARY-level aggregate rows only.
      CorpusOps.vocabGini(docs(s, dir), "text", "source")
        .orderBy($"source")
    },

    "q_vocab_richness" -> { (s, dir) =>
      import s.implicits._
      // Per-source lexical diversity ([[CorpusOps.vocabRichness]]):
      // type-token ratio + hapax/dis-legomena fractions — the
      // template-vs-organic screen next to q_gini's concentration, and
      // log-free where a Zipf-slope fit could not hash-gate. Two
      // combiner-reduced aggregates over vocabulary-level rows.
      CorpusOps.vocabRichness(docs(s, dir), "text", "source")
        .orderBy($"source")
    },

    "q_ks_drift" -> { (s, dir) =>
      import s.implicits._
      // Per-lang two-sample Kolmogorov–Smirnov drift of document LENGTH
      // against the rest of the corpus ([[StatOps.ksDrift]]): the
      // distribution-SHAPE monitor beside q_token_drift's token-mix TVD.
      // Exact integer cumulative-count cross-products over the
      // groups×levels grid (level rows, never data rows); D's numerator
      // pinned as a digit string.
      StatOps.ksDrift(
        docs(s, dir).select($"lang", $"n_chars"), "lang", "n_chars")
        .orderBy($"lang")
    },

    "q_t_closeness" -> { (s, dir) =>
      import s.implicits._
      // t-closeness release gate ([[GovernanceOps.tCloseness]], threshold
      // 1/4) under q_k_anonymity's quasi-identifier frame: per
      // (event_type, day) group, the exact TVD between the group's
      // user-bucket distribution and the table's — the distribution-skew
      // disclosure l-diversity cannot see. Absent buckets enter via the
      // closed form; the numerator is a digit-string pin; the risk flag
      // is a fixed IEEE chain over exact operands (engine-stable).
      val e = events(s, dir).select($"event_type",
        expr("ts div 86400000000000").as("day"),
        expr("user_id % 50").as("sv_bucket"))
      GovernanceOps.tCloseness(e, Seq("event_type", "day"), "sv_bucket",
          tNum = 1, tDen = 4)
        .orderBy($"event_type", $"day")
    },

    "q_ngram_novelty" -> { (s, dir) =>
      import s.implicits._
      // Per-document trigram novelty of the probe quarter against the
      // training three-quarters ([[CorpusOps.ngramNovelty]]): the graded
      // "how much is new" score beside q_decontaminate's binary overlap
      // verdict — low novelty flags recycled/template content before it
      // trains. One gram-keyed LEFT ANTI join against the reference's
      // distinct-gram vocabulary; never doc×doc.
      val d = docs(s, dir)
      CorpusOps.ngramNovelty(d.filter($"doc_id" % 4 === 3), "doc_id", "text",
          d.filter($"doc_id" % 4 =!= 3), "text", n = 3)
        .orderBy($"doc_id")
    },

    "q_chi_square" -> { (s, dir) =>
      import s.implicits._
      // χ² independence of lang × source ([[StatOps.chiSquare]]): exact
      // integer contingency counts, per-cell terms as fixed double
      // expressions, the cross-cell sum as a SORTED fold — the one
      // construction that makes the statistic partition-order-free and
      // therefore gateable.
      StatOps.chiSquare(docs(s, dir), "lang", "source")
    },

    "q_linear_fit" -> { (s, dir) =>
      import s.implicits._
      // Per-group least-squares line ([[StatOps.linearFit]]): slope/
      // intercept/R² of extended price on quantity per return flag, closed
      // from the same exact decimal moments as q_correlation — the trend
      // statistic regr_slope cannot gate (its double accumulation is
      // order-dependent).
      StatOps.linearFit(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice")
        .orderBy($"l_returnflag")
    },

    "q_impute" -> { (s, dir) =>
      import s.implicits._
      // Group-median null imputation ([[StatOps.imputeMedian]]): every 9th
      // event's value is nulled, then filled from its event_type's discrete
      // median — non-null bits pass through untouched, fills are flagged.
      // One median aggregate broadcast back; the stream never re-shuffles.
      val ev = events(s, dir)
        .select($"event_id", $"event_type",
          when($"event_id" % 9 =!= 0, $"value").as("v"))
      StatOps.imputeMedian(ev, "event_type", "v")
        .select($"event_id", $"event_type", $"v", $"v_filled", $"was_imputed")
        .orderBy($"event_id")
    },

    "q_counting_median" -> { (s, dir) =>
      import s.implicits._
      // Two-pass exact counting median ([[StatOps.countingMedianLong]]):
      // the histogram locates each group's median bin, only that bin's
      // slice sorts — same selection rule the oracle's rank arithmetic
      // computes directly, bounded state where the one-pass form sorts the
      // group. The gated med is a BIGINT in integer ten-thousandths via
      // the IEEE chain ⌊v·10⁴+0.5⌋ on BOTH engines — no double→DECIMAL
      // cast anywhere in a gated column (the DECIMAL form was hash-red at
      // the driver for two rounds while passing on local DuckDB).
      StatOps.countingMedianLong(
        t(s, dir, "lineitem").select($"l_returnflag",
          floor($"l_extendedprice" * 10000.0 + 0.5).as("price_i4")),
        "l_returnflag", "price_i4", loI = 0L, hiI = 1100000000L, nBins = 1100)
        .orderBy($"grp")
    },

    "q_hist_quantiles" -> { (s, dir) =>
      import s.implicits._
      // Histogram-sketch quantiles ([[StatOps.histogramQuantiles]]): p25/50/
      // 75/90/99 of extended price per return flag from 1100 fixed bins —
      // bounded aggregate state instead of the per-group sort the exact
      // q_percentiles gate pays. All-integer binning and thresholds; the
      // oracle reproduces the arithmetic bin by bin.
      StatOps.histogramQuantiles(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", lo = 0, hi = 110000, nBins = 1100,
          qs = Seq((1, 4), (1, 2), (3, 4), (9, 10), (99, 100)))
        .orderBy($"grp", $"q_num", $"q_den")
    },

    "q_profile" -> { (s, dir) =>
      import s.implicits._
      // Single-pass column profile ([[StatOps.columnProfile]]) — the
      // ANALYZE-TABLE shape: per column, row/null/exact-distinct counts and
      // min/max. The double column pre-casts to DECIMAL(18,2) so min/max
      // render identically in both engines; `seg_opt` plants NULLs so the
      // null-count arm is exercised, not just zero.
      val c = t(s, dir, "customer")
        .withColumn("c_acctbal", $"c_acctbal".cast("decimal(18,2)"))
        .withColumn("seg_opt", when($"c_mktsegment" =!= "BUILDING", $"c_mktsegment"))
      StatOps.columnProfile(c,
          Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "seg_opt"))
        .orderBy($"col_name")
    },
  )

  val oracleSql: Map[String, String] = Map(

    "q_kmv_overlap" ->
      s"""WITH h AS (SELECT doc_id, ${duckHash("text")} AS h
         |  FROM documents WHERE text IS NOT NULL),
         |a AS (SELECT list(DISTINCT h ORDER BY h)[:64] AS am,
         |    CAST(count(DISTINCT h) AS BIGINT) AS exact_a
         |  FROM h WHERE doc_id % 2 = 0),
         |b AS (SELECT list(DISTINCT h ORDER BY h)[:64] AS bm,
         |    CAST(count(DISTINCT h) AS BIGINT) AS exact_b
         |  FROM h WHERE doc_id % 3 = 0),
         |eu AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact_union
         |  FROM h WHERE doc_id % 2 = 0 OR doc_id % 3 = 0),
         |ei AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact_intersection
         |  FROM h WHERE doc_id % 6 = 0),
         |m AS (SELECT list_sort(list_distinct(list_concat(am, bm)))[:64] AS u, *
         |  FROM a, b, eu, ei),
         |c AS (SELECT *, len(u) AS n_union_min,
         |    CASE WHEN len(u) = 0 THEN 0 ELSE u[len(u)] END AS union_kth,
         |    CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
         |         ELSE 63.0 * 1000000007.0 / CAST(u[len(u)] AS DOUBLE) END AS est_union,
         |    len(list_intersect(list_intersect(u, am), bm)) AS n_both
         |  FROM m)
         |SELECT CAST(n_union_min AS INT) AS n_union_min, union_kth, est_union,
         |  CAST(n_both AS INT) AS n_both,
         |  CASE WHEN n_union_min < 64 THEN CAST(n_both AS DOUBLE)
         |       ELSE CAST(n_both AS DOUBLE) / 64.0 * est_union END AS est_intersection,
         |  exact_a, exact_b, exact_union, exact_intersection
         |FROM c""".stripMargin,

    "q_text_stats" ->
      """WITH d AS (SELECT lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS ns,
        |  CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT) AS np
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(ns) AS BIGINT) AS total_stopwords,
        |  CAST(sum(np) AS BIGINT) AS total_punct,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens,
        |  CAST(sum(ns) AS DOUBLE) / CAST(sum(nt) AS DOUBLE) AS stop_ratio
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality_score" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_regex_tokens,
        |  (length(text) + 3) // 4 AS n_tokens_est,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
        |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stopwords
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_regex_tokens, CAST(n_tokens_est AS BIGINT) AS n_tokens_est,
        |  n_uniq_tokens, n_stopwords,
        |  (CAST(n_uniq_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
        |    + (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3
        |    + least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.2 AS quality
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_lang_id" -> {
      val scores = langScoreSql.map { case (lang, sql) => s"  $sql AS s_$lang," }.mkString("\n")
      val langs = langScoreSql.map(_._1)
      val caseChain = langs.init.map { lang =>
        val conds = langs.filterNot(_ == lang).map(o => s"s_$lang >= s_$o").mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString("\n    ", "\n    ", "")
      s"""WITH d AS (SELECT doc_id,
         |$scores
         |  lang AS labeled_lang
         |  FROM documents)
         |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
         |  CASE$caseChain
         |    ELSE '${langs.last}' END AS pred_lang,
         |  labeled_lang
         |FROM d ORDER BY doc_id""".stripMargin
    },

    "q_doc_fingerprint" ->
      s"""SELECT doc_id, ${duckHash("text")} AS fp,
         |  CAST(length(text) AS BIGINT) AS n_chars_actual
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, lang, n_chars,
         |  ln((${duckHash("text", 151)} + 1) / 1000000008.0)
         |    / CAST(n_chars AS DOUBLE) AS pri
         |  FROM documents)
         |SELECT CAST(row_number() OVER (ORDER BY pri DESC, doc_id) AS INT) AS sample_rank,
         |  doc_id, lang, n_chars
         |FROM h ORDER BY pri DESC, doc_id LIMIT 40""".stripMargin,

    // Integer-exact α=1/2 temperature test: u²·n_lang < (4·2^20)², HUGEINT
    // product on the left (u² < 2^40 times a BIGINT count).
    "q_token_budget_mix" ->
      s"""WITH n AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  ${duckHash("text", 193)} AS h,
         |  300 + 100 * (CAST(substr(source, 4) AS BIGINT) % 4) AS budget
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT doc_id, source, n_tokens, budget,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM n)
         |SELECT doc_id, source, n_tokens FROM c WHERE cum <= budget
         |ORDER BY doc_id""".stripMargin,

    "q_temperature_mix" ->
      s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |u AS (SELECT doc_id, lang,
         |  ${duckHash("text", 173)} % 1048576 AS u FROM documents)
         |SELECT d.doc_id, d.lang FROM u d JOIN n ON n.lang = d.lang
         |WHERE CAST(d.u * d.u AS HUGEINT) * n.n
         |  < CAST(4194304 AS HUGEINT) * 4194304
         |ORDER BY doc_id""".stripMargin,

    // Mirrors robustOutliers with NO quantile_* function: each discrete
    // median (value, then deviation) is selected by explicit rank arithmetic
    // — the value at rank ⌈n/2⌉, i.e. `rn*2 = n + n%2` — the same lower-
    // middle rule percentile_disc implements, stated in constructs every
    // DuckDB release agrees on (quantile_disc's even-n selection drifted
    // across versions and flipped this gate red in round 9). dev/mad/
    // max_dev scales pinned to Spark's decimal arithmetic ((18,4) minus
    // (18,4) → (19,4)).
    // All-BIGINT twin of StatOps.robustOutliers: values quantize via the
    // IEEE chain ⌊v·10⁴+0.5⌋ (bit-identical across engines), never an
    // engine-native double→DECIMAL cast (version-sensitive tie rounding —
    // the rounds-9/10 driver red).
    "q_robust_outliers" ->
      """WITH v AS (SELECT event_type AS grp,
        |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v FROM events),
        |vr AS (SELECT grp, v,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM v WHERE v IS NOT NULL),
        |m AS (SELECT grp, v AS med FROM vr WHERE rn * 2 = n + (n % 2)),
        |d AS (SELECT v.grp, v.v, m.med, abs(v.v - m.med) AS dev FROM v JOIN m USING (grp)),
        |dr AS (SELECT grp, dev,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY dev) AS rn,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM d WHERE dev IS NOT NULL),
        |md AS (SELECT grp, dev AS mad FROM dr WHERE rn * 2 = n + (n % 2))
        |SELECT d.grp AS grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(d.med) AS BIGINT) AS med,
        |  CAST(min(md.mad) AS BIGINT) AS mad,
        |  CAST(SUM(CASE WHEN d.dev * 2 > md.mad * 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(max(d.dev) AS BIGINT) AS max_dev
        |FROM d JOIN md USING (grp)
        |GROUP BY d.grp ORDER BY grp""".stripMargin,

    "q_correlation" -> {
      // decimal -> double via the canonical VARCHAR (see StatOps.correlation:
      // DuckDB's direct int128-decimal -> double rounds twice, one ulp off).
      def v(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val nD = "CAST(n AS DOUBLE)"
      val num = s"($nD * ${v("sxy")} - ${v("sx")} * ${v("sy")})"
      // greatest(0, ·) + `> 0` gate mirror StatOps.correlation's clamp: the
      // variance terms are ≥ 0 exactly but can round negative in doubles.
      val den = s"(sqrt(greatest(0.0, $nD * ${v("sxx")} - ${v("sx")} * ${v("sx")})) * " +
        s"sqrt(greatest(0.0, $nD * ${v("syy")} - ${v("sy")} * ${v("sy")})))"
      s"""WITH m AS (SELECT l_returnflag,
         |  count(*) AS n,
         |  SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
         |  SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
         |  -- DECIMAL(19,·): DuckDB 1.0 multiplies width-18 decimals in their
         |  -- int64 storage and overflows; width 19 forces int128. The values
         |  -- are exact either way, matching Spark's (18,4)^2 -> (37,8).
         |  SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
         |  SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
         |  SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |  CASE WHEN $den > 0 THEN $num / $den END AS corr_xy,
         |  CASE WHEN n > 1 THEN $num / ($nD * ($nD - 1.0)) END AS cov_samp
         |FROM m ORDER BY l_returnflag""".stripMargin
    },

    // Min-max twin: the same subtract/divide chain over exact bounds.
    "q_minmax_scale" ->
      """WITH b AS (SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type,
        |  CASE WHEN value IS NULL THEN NULL
        |    WHEN hi = lo THEN 0.0
        |    ELSE (CAST(value AS DOUBLE) - CAST(lo AS DOUBLE))
        |      / (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)) END AS scaled
        |FROM events e JOIN b
        |  ON e.event_type IS NOT DISTINCT FROM b.event_type
        |ORDER BY event_id""".stripMargin,

    // Mode twin: level counts, ROW_NUMBER by (count DESC, value ASC) —
    // the deterministic tie-break the operator pins.
    "q_mode" ->
      """WITH c AS (SELECT l_returnflag AS g,
        |    CAST(l_quantity AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY g, v),
        |r AS (SELECT g, v, c,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, v ASC) AS rn,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n_distinct
        |  FROM c)
        |SELECT g AS l_returnflag, v AS mode_value, c AS mode_count,
        |  n, n_distinct
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    // Correlation-matrix twin: one moments CTE (q_correlation's decimal
    // conventions — (18,4) sums, (19,4) products for int128), one
    // UNION ALL row per pair with the identical closing chain.
    "q_corr_matrix" -> {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def s18(c: String) = s"SUM(CAST($c AS DECIMAL(18,4)))"
      def p19(a: String, b: String) =
        s"SUM(CAST($a AS DECIMAL(19,4)) * CAST($b AS DECIMAL(19,4)))"
      val pairs = for {
        i <- cs.indices; j <- (i + 1) until cs.size
      } yield (cs(i), cs(j))
      val moments =
        cs.map(c => s"  ${s18(c)} AS s_$c,") ++
          cs.map(c => s"  ${p19(c, c)} AS ss_$c,") ++
          pairs.map { case (a, b) => s"  ${p19(a, b)} AS sx_${a}_$b," }
      def v(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val legs = pairs.map { case (a, b) =>
        val num = s"(CAST(n AS DOUBLE) * ${v(s"sx_${a}_$b")} - ${v(s"s_$a")} * ${v(s"s_$b")})"
        val den = s"(sqrt(greatest(0.0, CAST(n AS DOUBLE) * ${v(s"ss_$a")} - ${v(s"s_$a")} * ${v(s"s_$a")})) * " +
          s"sqrt(greatest(0.0, CAST(n AS DOUBLE) * ${v(s"ss_$b")} - ${v(s"s_$b")} * ${v(s"s_$b")})))"
        s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
           |  CASE WHEN $den > 0 THEN $num / $den END AS corr_xy FROM m"""
          .stripMargin
      }
      s"""WITH m AS (SELECT count(*) AS n,
         |${moments.mkString("\n").stripSuffix(",")}
         |  FROM lineitem)
         |${legs.mkString("\nUNION ALL\n")}
         |ORDER BY col_x, col_y""".stripMargin
    },

    // Kendall tau-b twin: the O(n²) pairwise self-join definition — every
    // pair classified once (a.doc_id < b.doc_id; all five classes are
    // symmetric under swap, so the order key only dedups). The engine side
    // computes the same longs via the value-range grid; tau_b closes from
    // them with the identical cast/multiply/sqrt/divide chain.
    "q_kendall_tau" ->
      """WITH d AS (SELECT lang AS g, doc_id,
        |    CAST(n_chars AS DOUBLE) AS x,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |p AS (SELECT a.g,
        |    CAST(count(*) FILTER ((a.x < b.x AND a.y > b.y)
        |        OR (a.x > b.x AND a.y < b.y)) AS BIGINT) AS nd,
        |    CAST(count(*) FILTER (a.x = b.x) AS BIGINT) AS tx,
        |    CAST(count(*) FILTER (a.y = b.y) AS BIGINT) AS ty,
        |    CAST(count(*) FILTER (a.x = b.x AND a.y = b.y) AS BIGINT) AS txy
        |  FROM d a JOIN d b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.g),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY g)
        |SELECT n.g AS lang, n.n,
        |  CAST(n*(n-1)//2 - COALESCE(nd,0)
        |    - (COALESCE(tx,0) + COALESCE(ty,0) - COALESCE(txy,0)) AS BIGINT) AS nc,
        |  COALESCE(nd,0) AS nd, COALESCE(tx,0) AS tx, COALESCE(ty,0) AS ty,
        |  COALESCE(txy,0) AS txy,
        |  CASE WHEN n*(n-1)//2 - COALESCE(tx,0) = 0
        |        OR n*(n-1)//2 - COALESCE(ty,0) = 0 THEN NULL
        |    ELSE CAST(n*(n-1)//2 - COALESCE(nd,0)
        |        - (COALESCE(tx,0) + COALESCE(ty,0) - COALESCE(txy,0))
        |        - COALESCE(nd,0) AS DOUBLE)
        |      / sqrt(CAST(n*(n-1)//2 - COALESCE(tx,0) AS DOUBLE)
        |           * CAST(n*(n-1)//2 - COALESCE(ty,0) AS DOUBLE)) END AS tau_b
        |FROM n LEFT JOIN p USING (g) ORDER BY lang""".stripMargin,

    // Apriori twin: the UNPRUNED definition — distinct tokens per doc,
    // k-way self-joins with ordered items, HAVING support — which the
    // engine's pruned level-wise form must equal exactly (monotonicity
    // makes the prune lossless).
    "q_itemsets" ->
      """WITH it AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |f1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS sup
        |  FROM it GROUP BY tok HAVING count(*) >= 300),
        |e AS (SELECT doc_id, it.tok FROM it JOIN f1 USING (tok)),
        |f2 AS (SELECT a.tok AS t1, b.tok AS t2,
        |    CAST(count(*) AS BIGINT) AS sup
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 300),
        |f3 AS (SELECT a.tok AS t1, b.tok AS t2, c.tok AS t3,
        |    CAST(count(*) AS BIGINT) AS sup
        |  FROM e a
        |  JOIN e b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  JOIN e c ON a.doc_id = c.doc_id AND b.tok < c.tok
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 300)
        |SELECT 1 AS k, tok AS item1, CAST(NULL AS VARCHAR) AS item2,
        |  CAST(NULL AS VARCHAR) AS item3, sup AS support FROM f1
        |UNION ALL SELECT 2, t1, t2, CAST(NULL AS VARCHAR), sup FROM f2
        |UNION ALL SELECT 3, t1, t2, t3, sup FROM f3
        |ORDER BY k, item1, item2, item3""".stripMargin,

    // Source-overlap twin: distinct (source, token), token-keyed
    // self-join for intersections, sizes close the unions.
    "q_source_overlap" ->
      """WITH st AS (SELECT DISTINCT source AS src,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS sz
        |  FROM st GROUP BY src),
        |i AS (SELECT a.src AS src_i, b.src AS src_j,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT src_i, src_j, x.sz AS n_i, y.sz AS n_j, n_inter,
        |  CAST(x.sz + y.sz - n_inter AS BIGINT) AS n_union,
        |  CAST(n_inter AS DOUBLE)
        |    / CAST(x.sz + y.sz - n_inter AS DOUBLE) AS jaccard
        |FROM i JOIN sz x ON x.src = src_i JOIN sz y ON y.src = src_j
        |ORDER BY src_i, src_j""".stripMargin,

    // Simpson twin: class counts, decimal Σc², two digit-string
    // divisions (simpson and its inverse).
    "q_simpson" ->
      """WITH c AS (SELECT source AS g, lang,
        |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY g, lang),
        |a AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS sq_sum
        |  FROM c GROUP BY g)
        |SELECT g AS source, n, n_classes,
        |  CAST(sq_sum AS VARCHAR) AS sq_sum,
        |  CAST(CAST(sq_sum AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(19,0))
        |        AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS simpson,
        |  CAST(CAST(CAST(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(19,0))
        |        AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(sq_sum AS VARCHAR) AS DOUBLE) AS enc
        |FROM a ORDER BY source""".stripMargin,

    // Gini twin: same rank identity over vocabulary-level counts, same
    // (19,0)×(18,0) decimal accumulation, doubles via digit strings.
    "q_gini" ->
      """WITH tk AS (SELECT source AS src,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY src, tok),
        |r AS (SELECT src, c,
        |    CAST(row_number() OVER (PARTITION BY src ORDER BY c, tok)
        |      AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS m
        |  FROM c),
        |a AS (SELECT src, CAST(max(m) AS BIGINT) AS m_tokens,
        |    CAST(sum(c) AS BIGINT) AS total_tokens,
        |    CAST(SUM(CAST(2*i - m - 1 AS DECIMAL(19,0))
        |      * CAST(c AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS gini_num
        |  FROM r GROUP BY src)
        |SELECT src AS source, m_tokens, total_tokens,
        |  CAST(gini_num AS VARCHAR) AS gini_num,
        |  CAST(CAST(gini_num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(CAST(m_tokens AS DECIMAL(18,0))
        |        * CAST(total_tokens AS DECIMAL(19,0)) AS DECIMAL(38,0))
        |        AS VARCHAR) AS DOUBLE) AS gini
        |FROM a ORDER BY source""".stripMargin,

    // Vocabulary-richness twin: vocabulary-level counts, exact integers,
    // three IEEE divisions. Shared with the streaming twin — the
    // count-map fold must land on identical integers and doubles.
    "q_vocab_richness" -> vocabRichnessOracle,

    // KS-drift twin: the groups×levels dense grid, integer cumulative
    // cross-products, the max pinned as a digit string.
    // (ksDriftOracle lives in QueryShared — the streamed count-map twin
    // q_stream_ks_drift in EventQueries shares it verbatim.)
    "q_ks_drift" -> ksDriftOracle,

    // t-closeness twin: tokenDrift's cross-multiplied TVD numerator over
    // (QI, sensitive-bucket) counts; the risk flag is the same IEEE chain.
    // Shared with q_stream_t_closeness: the streamed count-map emissions
    // feed the identical formula, so one oracle gates both (the
    // q_cc_incremental precedent).
    "q_t_closeness" -> tClosenessOracle,

    // (tClosenessOracle is defined below the map — shared by both entries.)

    // Trigram-novelty twin: distinct probe grams anti-joined against the
    // reference's distinct-gram vocabulary.
    "q_ngram_novelty" ->
      """WITH probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
        |pg AS (SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ng
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |              FROM probe WHERE text IS NOT NULL))),
        |rg AS (SELECT DISTINCT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ng
        |  FROM (SELECT tk, unnest(range(1, len(tk) - 1)) AS i
        |        FROM (SELECT string_split(text, ' ') AS tk FROM documents
        |              WHERE doc_id % 4 <> 3 AND text IS NOT NULL))),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
        |  FROM pg GROUP BY doc_id),
        |nov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |  FROM pg ANTI JOIN rg USING (ng) GROUP BY doc_id)
        |SELECT p.doc_id,
        |  COALESCE(n_ngrams, 0) AS n_ngrams,
        |  COALESCE(n_novel, 0) AS n_novel,
        |  CASE WHEN COALESCE(n_ngrams, 0) = 0 THEN NULL
        |    ELSE CAST(COALESCE(n_novel, 0) AS DOUBLE)
        |      / CAST(n_ngrams AS DOUBLE) END AS novelty
        |FROM probe p LEFT JOIN tot USING (doc_id) LEFT JOIN nov USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,

    // 2-D grid twin: the identical IEEE bucket chain over exact min/max
    // aggregates — ((v−lo)/(hi−lo))·B, floor, clamp — then cell counts.
    "q_hist2d" ->
      """WITH d AS (SELECT lang AS g,
        |    CAST(n_chars AS DOUBLE) AS x,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |r AS (SELECT g, min(x) AS xmin, max(x) AS xmax,
        |    min(y) AS ymin, max(y) AS ymax FROM d GROUP BY g),
        |b AS (SELECT d.g,
        |    CASE WHEN xmax = xmin THEN 0
        |      ELSE least(7, CAST(floor((x - xmin) / (xmax - xmin) * 8)
        |        AS INT)) END AS bx,
        |    CASE WHEN ymax = ymin THEN 0
        |      ELSE least(7, CAST(floor((y - ymin) / (ymax - ymin) * 8)
        |        AS INT)) END AS by
        |  FROM d JOIN r USING (g))
        |SELECT g AS lang, bx, by, CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY g, bx, by ORDER BY lang, bx, by""".stripMargin,

    // Spearman twin: level-keyed midranks (2·cum + m + 1), integer
    // centering u = r2 − (n+1), the same decimal products and
    // digit-string doubles.
    "q_spearman" ->
      """WITH d AS (SELECT lang AS g, doc_id,
        |    CAST(n_chars AS DOUBLE) AS x,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY g),
        |bx AS (SELECT g, x, CAST(count(*) AS BIGINT) AS m FROM d GROUP BY g, x),
        |rx AS (SELECT g, x, 2 * COALESCE(SUM(m) OVER (PARTITION BY g ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m + 1 AS r2x
        |  FROM bx),
        |by AS (SELECT g, y, CAST(count(*) AS BIGINT) AS m FROM d GROUP BY g, y),
        |ry AS (SELECT g, y, 2 * COALESCE(SUM(m) OVER (PARTITION BY g ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m + 1 AS r2y
        |  FROM by),
        |u AS (SELECT d.g, CAST(r2x - (n + 1) AS BIGINT) AS ux,
        |    CAST(r2y - (n + 1) AS BIGINT) AS uy
        |  FROM d JOIN rx USING (g, x) JOIN ry USING (g, y) JOIN nn USING (g)),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ux AS DECIMAL(18,0)) * CAST(uy AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(ux AS DECIMAL(18,0)) * CAST(ux AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(uy AS DECIMAL(18,0)) * CAST(uy AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM u GROUP BY g)
        |SELECT g AS lang, n,
        |  CAST(sxy AS VARCHAR) AS sxy,
        |  CAST(sxx AS VARCHAR) AS sxx,
        |  CAST(syy AS VARCHAR) AS syy,
        |  CASE WHEN sxx = 0 OR syy = 0 THEN NULL
        |    ELSE CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |      / sqrt(CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |           * CAST(CAST(syy AS VARCHAR) AS DOUBLE)) END AS rho
        |FROM a ORDER BY lang""".stripMargin,

    // TVD drift twin: same cross-multiplied integer numerator —
    // (18,0)×(19,0) decimal products (width 38 ⇒ int128 in DuckDB, exact
    // in both engines), absent-token mass via the closed form
    // n·(T − Σ_present t), the double via the canonical VARCHAR route.
    "q_token_drift" ->
      """WITH tk AS (SELECT source AS src,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |cs AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY src, tok),
        |tot AS (SELECT tok, CAST(sum(c) AS BIGINT) AS t FROM cs GROUP BY tok),
        |ns AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM cs GROUP BY src),
        |ttot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cs),
        |pres AS (SELECT cs.src,
        |    SUM(abs(CAST(c AS DECIMAL(18,0)) * CAST(tt - n AS DECIMAL(19,0))
        |      - CAST(t - c AS DECIMAL(18,0)) * CAST(n AS DECIMAL(19,0))))
        |      AS num_present,
        |    CAST(sum(t) AS BIGINT) AS t_present
        |  FROM cs JOIN tot USING (tok) JOIN ns USING (src) CROSS JOIN ttot
        |  GROUP BY cs.src),
        |f AS (SELECT pres.src, ns.n, tt - ns.n AS m,
        |    CAST(num_present + CAST(ns.n AS DECIMAL(18,0))
        |      * CAST(tt - t_present AS DECIMAL(19,0)) AS DECIMAL(38,0))
        |      AS tvd_num
        |  FROM pres JOIN ns USING (src) CROSS JOIN ttot)
        |SELECT src AS source, n AS n_tokens, CAST(m AS BIGINT) AS m_tokens,
        |  CAST(tvd_num AS VARCHAR) AS tvd_num,
        |  CASE WHEN m = 0 THEN NULL
        |    ELSE CAST(CAST(tvd_num AS VARCHAR) AS DOUBLE)
        |      / (2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE)) END AS tvd
        |FROM f ORDER BY source""".stripMargin,

    // Token-movers twin: the same v1/v2 construction, vocabulary-keyed
    // full-outer join, exact cross-multiplied shift numerator, rank by
    // (numerator DESC, token).
    "q_token_shift" ->
      """WITH v1 AS (SELECT text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0),
        |ca AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_a
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM v1)
        |  GROUP BY tok),
        |cb AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_b
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM v2)
        |  GROUP BY tok),
        |na AS (SELECT CAST(sum(c_a) AS BIGINT) AS na FROM ca),
        |nb AS (SELECT CAST(sum(c_b) AS BIGINT) AS nb FROM cb),
        |j AS (SELECT COALESCE(ca.tok, cb.tok) AS token,
        |    COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
        |  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
        |sh AS (SELECT token, c_a, c_b,
        |    CAST(abs(CAST(c_a AS DECIMAL(18,0)) * CAST(nb AS DECIMAL(19,0))
        |      - CAST(c_b AS DECIMAL(18,0)) * CAST(na AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS num, na, nb
        |  FROM j CROSS JOIN na CROSS JOIN nb)
        |SELECT CAST(rnk AS INT) AS rnk, token, c_a, c_b,
        |  CAST(num AS VARCHAR) AS shift_num,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(CAST(na AS DECIMAL(18,0))
        |        * CAST(nb AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS VARCHAR)
        |        AS DOUBLE) AS shift
        |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY num DESC, token) AS rnk
        |      FROM sh)
        |WHERE rnk <= 25 ORDER BY rnk""".stripMargin,

    // Quality-rules twin: the reflowed lines via explicit unnest + window
    // aggregation (the in-row fold is Spark-side only — DuckDB 1.0's
    // list_reduce struct accumulators mis-evaluate); ratios and the keep
    // flag are the same IEEE divisions / integer cross-products. Shared
    // by q_quality_rules AND q_stream_quality (the operator is pure
    // per-row expressions — the stream twin runs it unchanged).
    "q_quality_rules" -> qualityRulesOracle,

    "q_stream_quality" -> qualityRulesOracle,

    // Language-ID twin: the same trigram rank profiles and out-of-place
    // distance in SQL — row_number over (count DESC, gram ASC) on both
    // sides, COALESCE(|Δrank|, topK) penalty, argmin tie to smaller lang.
    // Shared by q_lang_ngram AND q_stream_lang_ngram: the stateless
    // online classifier's emissions are bit-identical to the batch
    // operator. (q_lang_id remains the marker-token scorer's gate — this
    // is the Cavnar–Trenkle n-gram family the r16 VERDICT asked for.)
    "q_lang_ngram" -> langIdOracle,

    // Shared with q_stream_chi_square (EventQueries): streamed cells,
    // identical sorted-fold formula, one oracle.
    "q_chi_square" -> chiSquareOracle,

    "q_linear_fit" -> {
      def v(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val nD = "CAST(n AS DOUBLE)"
      val num = s"($nD * ${v("sxy")} - ${v("sx")} * ${v("sy")})"
      val denX = s"($nD * ${v("sxx")} - ${v("sx")} * ${v("sx")})"
      val denY = s"($nD * ${v("syy")} - ${v("sy")} * ${v("sy")})"
      val slope = s"($num / $denX)"
      s"""WITH m AS (SELECT l_returnflag,
         |  count(*) AS n,
         |  SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
         |  SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
         |  SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
         |  SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
         |  SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |  CASE WHEN $denX > 0 THEN $slope END AS slope,
         |  CASE WHEN $denX > 0 THEN (${v("sy")} - $slope * ${v("sx")}) / $nD END AS intercept,
         |  CASE WHEN $denX > 0 AND $denY > 0 THEN $num * $num / ($denX * $denY) END AS r2
         |FROM m ORDER BY l_returnflag""".stripMargin
    },

    // Rank-arithmetic discrete median (see q_counting_median) — quarantined
    // from quantile_disc's version-sensitive even-n selection.
    "q_impute" ->
      """WITH ev AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 9 <> 0 THEN value END AS v
        |  FROM events),
        |vr AS (SELECT event_type, CAST(v AS DECIMAL(18,4)) AS vq FROM ev
        |  WHERE v IS NOT NULL),
        |r AS (SELECT event_type, vq,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vq) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM vr),
        |med AS (SELECT event_type, vq AS m FROM r WHERE rn * 2 = n + (n % 2))
        |SELECT ev.event_id, ev.event_type, ev.v,
        |  COALESCE(ev.v, CAST(med.m AS DOUBLE)) AS v_filled,
        |  (ev.v IS NULL AND med.m IS NOT NULL) AS was_imputed
        |FROM ev LEFT JOIN med USING (event_type)
        |ORDER BY event_id""".stripMargin,

    // Explicit rank arithmetic, no quantile_* function: the discrete median
    // is the value at rank ⌈n/2⌉ within the group — exactly countingMedian's
    // own selection rule, and version-stable where quantile_disc's even-n
    // convention has shifted across DuckDB releases (the round-9 red gate).
    // Values quantize via the IEEE chain ⌊v·10⁴+0.5⌋ into BIGINT — never an
    // engine-native double→DECIMAL cast (the round-10 driver red).
    "q_counting_median" ->
      """WITH v AS (SELECT l_returnflag AS grp,
        |    CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT grp, v,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM v)
        |SELECT grp, CAST(n AS BIGINT) AS n, v AS med
        |FROM r WHERE rn * 2 = n + (n % 2) ORDER BY grp""".stripMargin,

    "q_hist_quantiles" ->
      """WITH v AS (SELECT l_returnflag AS grp,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vi
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |b AS (SELECT grp,
        |    CASE WHEN vi < 0 THEN 0 WHEN vi >= 1100000000 THEN 1099
        |         ELSE vi // 1000000 END AS bin
        |  FROM v),
        |h AS (SELECT grp, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
        |c AS (SELECT grp, bin, cnt,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
        |    SUM(cnt) OVER (PARTITION BY grp) AS n
        |  FROM h),
        |q(q_num, q_den) AS (VALUES (1, 4), (1, 2), (3, 4), (9, 10), (99, 100)),
        |sel AS (SELECT grp, q_num, q_den, min(bin) AS bin, min(n) AS n
        |  FROM c CROSS JOIN q WHERE cum * q_den >= n * q_num
        |  GROUP BY 1, 2, 3)
        |SELECT grp, q_num, q_den, bin,
        |  CAST(0 + bin * 1000000 AS DOUBLE) / 10000.0 AS lo_edge,
        |  CAST(0 + (bin + 1) * 1000000 AS DOUBLE) / 10000.0 AS hi_edge,
        |  CAST(n AS BIGINT) AS n
        |FROM sel ORDER BY grp, q_num, q_den""".stripMargin,

    "q_profile" ->
"""WITH c AS (SELECT c_custkey, c_name, c_nationkey,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal,
        |    CASE WHEN c_mktsegment <> 'BUILDING' THEN c_mktsegment END AS seg_opt
        |  FROM customer)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_null AS BIGINT) AS n_null,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_val, max_val
        |FROM (
        |  SELECT 'c_custkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(c_custkey) AS n_null,
        |    COUNT(DISTINCT c_custkey) AS n_distinct,
        |    CAST(MIN(c_custkey) AS VARCHAR) AS min_val,
        |    CAST(MAX(c_custkey) AS VARCHAR) AS max_val FROM c
        |  UNION ALL
        |  SELECT 'c_name', COUNT(*), COUNT(*) - COUNT(c_name),
        |    COUNT(DISTINCT c_name),
        |    CAST(MIN(c_name) AS VARCHAR), CAST(MAX(c_name) AS VARCHAR) FROM c
        |  UNION ALL
        |  SELECT 'c_nationkey', COUNT(*), COUNT(*) - COUNT(c_nationkey),
        |    COUNT(DISTINCT c_nationkey),
        |    CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR) FROM c
        |  UNION ALL
        |  SELECT 'c_acctbal', COUNT(*), COUNT(*) - COUNT(c_acctbal),
        |    COUNT(DISTINCT c_acctbal),
        |    CAST(MIN(c_acctbal) AS VARCHAR), CAST(MAX(c_acctbal) AS VARCHAR) FROM c
        |  UNION ALL
        |  SELECT 'seg_opt', COUNT(*), COUNT(*) - COUNT(seg_opt),
        |    COUNT(DISTINCT seg_opt),
        |    CAST(MIN(seg_opt) AS VARCHAR), CAST(MAX(seg_opt) AS VARCHAR) FROM c)
        |ORDER BY col_name""".stripMargin,

    "q_value_outliers" ->
      """WITH e AS (SELECT event_id, event_type, CAST(value AS DECIMAL(18,4)) AS vq FROM events),
        |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(vq) AS sv, SUM(vq * vq) AS svv FROM e GROUP BY 1),
        |m AS (SELECT event_type,
        |    CAST(sv AS DOUBLE) / n AS mean,
        |    CAST(svv AS DOUBLE) / n
        |      - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n) AS var FROM st),
        |s AS (SELECT event_type, mean, sqrt(GREATEST(var, 0.0)) AS sigma FROM m),
        |z AS (SELECT e.event_id, e.event_type,
        |    CASE WHEN sigma = 0 THEN 0.0
        |         ELSE (CAST(vq AS DOUBLE) - mean) / sigma END AS z
        |  FROM e JOIN s ON e.event_type IS NOT DISTINCT FROM s.event_type),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(z) DESC, event_id) AS rnk FROM z)
        |SELECT event_type, CAST(rnk AS INT) AS rnk, event_id, z FROM r
        |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin,

    "q_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.text IS NOT DISTINCT FROM b.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,

    // The DuckDB twin recomputes the Morton interleave arithmetically from
    // the base table — the layout is Spark-side staging, the z VALUES and
    // the box-filtered row set are what cross-engine equality pins.
    "q_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(list_sum(list_transform(range(0, 15), b ->
        |    ((l_partkey >> b) & 1) * (CAST(1 AS BIGINT) << (2*b)) +
        |    ((l_suppkey >> b) & 1) * (CAST(1 AS BIGINT) << (2*b + 1)))) AS BIGINT) AS z
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 1499 AND l_suppkey BETWEEN 2 AND 19
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "q_partition_prune" ->
      """SELECT user_id, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_repetition_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM t WHERE len(w) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |  CAST(max(cnt) AS BIGINT) AS top_gram_n,
        |  CAST(CASE WHEN max(cnt) * 5 <= sum(cnt) * 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_top_terms" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rnk
        |  FROM tf JOIN df USING (token))
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, token, tf, df
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q_vocab_build" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |n AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t
        |  WHERE length(token) > 0 GROUP BY token)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id,
        |  token, n
        |FROM n ORDER BY n DESC, token LIMIT 1000""".stripMargin,

    // Parallel unnest + generate_subscripts zip in DuckDB's SELECT list;
    // DuckDB's 1-based subscripts shift to posexplode's 0-based pos.
    "q_tokenize_ids" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |n AS (SELECT token, count(*) AS n FROM tok
        |  WHERE length(token) > 0 GROUP BY token),
        |v AS (SELECT token,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id
        |  FROM n ORDER BY n DESC, token LIMIT 16),
        |e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT e.doc_id,
        |  CAST(count(*) OVER (PARTITION BY e.doc_id) AS BIGINT) AS n_tokens,
        |  CAST(e.pos - 1 AS INT) AS pos,
        |  CAST(COALESCE(v.token_id, -1) AS BIGINT) AS token_id
        |FROM e LEFT JOIN v USING (token)
        |ORDER BY doc_id, pos""".stripMargin,

    "q_length_batches" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, n_tokens, n_tokens // 16 AS bucket,
        |    doc_id % 4 AS stream FROM t)
        |SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(stream AS BIGINT) AS stream,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY bucket, stream
        |    ORDER BY n_tokens, doc_id) - 1) // 8 AS BIGINT) AS batch_idx,
        |  CAST((bucket + 1) * 16 - 1 AS BIGINT) AS pad_to
        |FROM b ORDER BY doc_id""".stripMargin,

    // Snake dealing over the (n_tokens DESC, doc_id) total order — the
    // oracle's single-node ROW_NUMBER equals the gate's distributed
    // two-phase global rank exactly because the order is total.
    "q_shard_balance" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, n_tokens,
        |    ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(CASE WHEN (rn // 6) % 2 = 0 THEN rn % 6
        |    ELSE 5 - rn % 6 END AS INT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_equidepth_bins" ->
      """WITH r AS (SELECT l_orderkey, l_extendedprice AS p,
        |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
        |      l_linenumber) AS rnk,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST((rnk - 1) * 8 // n AS INT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  MIN(p) AS min_price, MAX(p) AS max_price,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin,

    "q_sorted_neighbors" ->
      """WITH r AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY length(text), doc_id) AS rnk
        |  FROM documents)
        |SELECT a.doc_id AS doc_id_i, b.doc_id AS doc_id_j,
        |  CAST(b.rnk - a.rnk AS INT) AS rank_dist
        |FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 4
        |ORDER BY doc_id_i, doc_id_j""".stripMargin,

    "q_bpe_merges" -> bpeOracle(6),

    "q_bpe_segment" -> bpeSegmentOracle(6),

    // Fertility twin: the same unrolled 6-merge chain's final vocab state
    // (v6), joined to per-(lang, word) exact counts; token-weighted BIGINT
    // totals (DuckDB's HUGEINT sums cast back) and three exact-integer
    // IEEE divisions. strlen = UTF-8 bytes, length = code points — the
    // same byte/char split Spark's octet_length/length makes.
    "q_tokenizer_fertility" ->
      s"""${bpeChain(6)},
         |wl AS (SELECT lang, x.w AS word, CAST(COUNT(*) AS BIGINT) AS wc
         |  FROM documents, unnest(string_split(text, ' ')) AS x(w)
         |  WHERE length(x.w) > 0 GROUP BY 1, 2),
         |f AS (SELECT wl.lang,
         |    CAST(SUM(wl.wc) AS BIGINT) AS n_words,
         |    CAST(SUM(wl.wc * len(v6.syms)) AS BIGINT) AS n_subwords,
         |    CAST(SUM(wl.wc * length(wl.word)) AS BIGINT) AS n_chars,
         |    CAST(SUM(wl.wc * strlen(wl.word)) AS BIGINT) AS n_bytes
         |  FROM wl JOIN v6 ON v6.word = wl.word
         |  GROUP BY 1)
         |SELECT lang, n_words, n_subwords, n_chars, n_bytes,
         |  CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
         |  CAST(n_bytes AS DOUBLE) / CAST(n_subwords AS DOUBLE) AS bytes_per_subword,
         |  CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE) AS chars_per_subword
         |FROM f ORDER BY lang""".stripMargin,

    "q_bigram_lm" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, len(w)), i -> [w[i], w[i+1]])) AS bg
        |  FROM t WHERE len(w) >= 2),
        |b AS (SELECT bg[1] AS w1, bg[2] AS w2 FROM p WHERE bg[1] IN ('the', 'a', 'of')),
        |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bigram FROM b GROUP BY w1, w2),
        |tot AS (SELECT w1, CAST(sum(n_bigram) AS BIGINT) AS n_context FROM c GROUP BY w1)
        |SELECT c.w1, c.w2, c.n_bigram, tot.n_context
        |FROM c JOIN tot USING (w1) ORDER BY w1, w2""".stripMargin,

    // The funnel twin chains the SAME fragments the per-stage gates use:
    // q_dedup_exact's min-id window, q_quality_score's formula (identical
    // float-op order), q_lang_id's argmax case chain, q_repetition_filter's
    // bigram rule — composed cumulatively and unpivoted to 6 rows.
    "q_curation_funnel" -> {
      val scores = langScoreSql.map { case (lang, sql) => s"$sql AS s_$lang" }
        .mkString(",\n        |    ").stripMargin
      val langs = langScoreSql.map(_._1)
      val caseChain = langs.init.map { lang =>
        val conds = langs.filterNot(_ == lang).map(o => s"s_$lang >= s_$o")
          .mkString(" AND ")
        s"WHEN $conds THEN '$lang'"
      }.mkString(" ")
      s"""WITH dup AS (SELECT doc_id, text, lang FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text, lang FROM documents),
         |base AS (SELECT doc_id, text, lang,
         |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
         |         THEN 1 ELSE 0 END AS is_canon,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stop,
         |    $scores
         |  FROM dup),
         |rep AS (SELECT doc_id,
         |    CASE WHEN max(cnt) * 16 <= sum(cnt) THEN 1 ELSE 0 END AS rep_ok
         |  FROM (SELECT doc_id, gram, count(*) AS cnt
         |        FROM (SELECT doc_id,
         |                unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
         |              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM dup)
         |              WHERE len(w) >= 2)
         |        GROUP BY doc_id, gram) GROUP BY doc_id),
         |f AS (SELECT base.is_canon,
         |    CASE WHEN n_tokens BETWEEN 24 AND 80 THEN 1 ELSE 0 END AS len_ok,
         |    COALESCE(rep.rep_ok, 0) AS rep_ok,
         |    CASE WHEN (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
         |        + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3
         |        + least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.2 >= 0.68
         |      THEN 1 ELSE 0 END AS qual_ok,
         |    CASE WHEN (CASE $caseChain ELSE '${langs.last}' END) = lang
         |      THEN 1 ELSE 0 END AS lang_ok
         |  FROM base LEFT JOIN rep USING (doc_id)),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_raw,
         |    CAST(SUM(is_canon) AS BIGINT) AS n_dedup,
         |    CAST(SUM(is_canon * len_ok) AS BIGINT) AS n_len,
         |    CAST(SUM(is_canon * len_ok * rep_ok) AS BIGINT) AS n_rep,
         |    CAST(SUM(is_canon * len_ok * rep_ok * qual_ok) AS BIGINT) AS n_qual,
         |    CAST(SUM(is_canon * len_ok * rep_ok * qual_ok * lang_ok) AS BIGINT) AS n_lang
         |  FROM f)
         |SELECT stage_id, stage, n_docs FROM (
         |  SELECT 1 AS stage_id, 'raw' AS stage, n_raw AS n_docs FROM a
         |  UNION ALL SELECT 2, 'dedup', n_dedup FROM a
         |  UNION ALL SELECT 3, 'length', n_len FROM a
         |  UNION ALL SELECT 4, 'repetition', n_rep FROM a
         |  UNION ALL SELECT 5, 'quality', n_qual FROM a
         |  UNION ALL SELECT 6, 'language', n_lang FROM a)
         |ORDER BY stage_id""".stripMargin
    },

    // bin() agrees across engines (no leading zeros), so
    // bitlen = length(bin(n)) is the same integer everywhere.
    "q_doc_surprisal" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM t GROUP BY token),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(bin(s.total)) - length(bin(tf.freq))) AS BIGINT) AS bits,
        |  CAST(SUM(length(bin(s.total)) - length(bin(tf.freq))) AS DOUBLE)
        |    / count(*) AS avg_bits
        |FROM t JOIN tf USING (token) CROSS JOIN s
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The oracle is the full GROUP BY + HAVING the two-pass pipeline must
    // equal exactly (1/800 of all bigram occurrences).
    "q_heavy_hitters" -> heavyHittersOracle,

    // Mirrors packSequences(seqLen = 128, nStreams = 8): stream = doc_id % 8,
    // start_off = exclusive running token sum within stream in doc_id order,
    // sequence indices by integer division. Split into two gates (inputs vs
    // window outputs) to bisect any future divergence; empty text filtered
    // on both sides (string_split('') is a cross-version hazard).
    "q_seq_pack" ->
      """SELECT doc_id, doc_id % 8 AS stream,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents WHERE text IS NOT NULL AND text <> ''
        |ORDER BY doc_id""".stripMargin,

    // start_off is CAST back to BIGINT at its definition: DuckDB widens
    // SUM(BIGINT) to HUGEINT, and a HUGEINT-typed gated column (or anything
    // derived from one) hash-mismatches Spark's longs at the driver even
    // when the values agree — the same family the pagerank oracle fixed.
    "q_seq_pack_offsets" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS stream,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL AND text <> ''),
        |w AS (SELECT doc_id, stream, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM d)
        |SELECT doc_id, start_off,
        |  CAST(start_off // 128 AS BIGINT) AS first_seq,
        |  CAST((start_off + n_tokens - 1) // 128 AS BIGINT) AS last_seq,
        |  CAST((start_off + n_tokens - 1) // 128 - start_off // 128 + 1
        |    AS BIGINT) AS n_seqs_spanned
        |FROM w ORDER BY doc_id""".stripMargin,

    // Mirrors chunkByTokens(chunkSize = 64, overlap = 16) ⇒ step 48:
    // nch = (max(nt − 64, 0) + 47) div 48 + 1, chunk i covers 1-based token
    // positions [i·48 + 1, i·48 + 64] capped at nt (DuckDB list slicing
    // caps like Spark's `slice`). unnest(range(...)) is the lateral
    // generate; generate_series can't take a per-row bound here.
    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt FROM t),
        |c AS (SELECT doc_id, toks, nt,
        |  (greatest(nt - 64, 0) + 47) // 48 + 1 AS nch FROM n),
        |e AS (SELECT doc_id, toks, nt, unnest(range(0, nch)) AS i FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  least(nt - i*48, 64) AS n_chunk_tokens,
        |  array_to_string(toks[i*48 + 1 : i*48 + 64], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,

    // Association order mirrors CorpusOps.bm25 exactly — every op is an
    // exact-rounded IEEE + − × / in the same left-assoc chain, so the score
    // double is bit-identical. DuckDB parses decimal literals as DECIMAL
    // (exact) and only promotes to double on contact with one, so k1+1 must
    // be CAST(1.2 AS DOUBLE) + 1 — the double sum 2.2000000000000002 Spark
    // computes, not DECIMAL 2.2's nearest double. The other literals (0.5,
    // 0.75, 1.0, and 1.2 multiplying a double) promote losslessly.
    "q_bm25_topk" -> Bm25Oracle,
    // Identical output through the persisted index IS the round-trip gate.
    "q_bm25_indexed" -> Bm25Oracle,

    "q_stratified_sample" ->
      s"""WITH h AS (SELECT doc_id, lang, ${duckHash("text", 131)} AS hv FROM documents)
         |SELECT doc_id, lang FROM h
         |WHERE (lang = 'en' AND hv % 2 < 1)
         |   OR (lang = 'de' AND hv % 4 < 1)
         |   OR (lang = 'es' AND hv % 10 < 1)
         |ORDER BY doc_id""".stripMargin,
  )
}
