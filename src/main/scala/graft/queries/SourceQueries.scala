package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.{GovernanceOps, ScaleJoins}
import graft.queries.QueryShared.bucketJoinTables
import graft.sources.{AvroIo, AvroSource, CsvSource, JsonSource, OrcSource}

/** Source-operator coverage: drives the CSV scan (reference O1,
  * `/root/reference/get_s3_data_as_df.py:33-43`) end-to-end through the
  * oracle gate. The query materializes a fixture table to CSV once per
  * (sf, table) and reads it back through [[graft.sources.CsvSource]] — the
  * oracle reads the original parquet, so any CSV round-trip defect
  * (quoting, header, type parse) fails the hash compare.
  */
object SourceQueries extends QueryDomain {

  // One materialization per (format, sf, table) per JVM via [[Staging]]:
  // repeated invocations (Bench warm-up + timed run) measure the scan, not
  // the fixture write.
  private def csvRoundTrip(s: SparkSession, dir: String, table: String): DataFrame =
    CsvSource.load(s,
      Staging.dir("csv", dir, table)(p =>
        t(s, dir, table).write.mode("overwrite").option("header", "true").csv(p)),
      Map("header" -> "true"))

  private def jsonRoundTrip(s: SparkSession, dir: String, table: String): DataFrame =
    JsonSource.load(s,
      Staging.dir("json", dir, table)(p =>
        t(s, dir, table).write.mode("overwrite").json(p)),
      Map.empty)

  private def avroRoundTrip(s: SparkSession, dir: String, table: String): DataFrame =
    AvroSource.load(s,
      Staging.dir("avro", dir, table)(p => AvroIo.write(t(s, dir, table), p)),
      Map.empty)

  private def orcRoundTrip(s: SparkSession, dir: String, table: String): DataFrame =
    OrcSource.load(s,
      Staging.dir("orc", dir, table)(p =>
        t(s, dir, table).write.mode("overwrite").orc(p)),
      Map.empty)

  // Twenty one-document binary files — the multimodal INGESTION layout
  // (one opaque blob per object, metadata from the file system) staged
  // once per (sf) per JVM. Content is the documents' UTF-8 text so the
  // DuckDB twin (read_blob + VARCHAR cast) sees byte-identical payloads.
  private def binDir(s: SparkSession, dir: String): String =
    Staging.dir("bin", dir, "documents") { p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text")).collect().foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(p, f"doc_${r.getLong(0)}%05d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_binary_source" -> { (s, dir) =>
      import s.implicits._
      // The `binaryFile` source — Spark's whole-file ingestion path for
      // image/audio/video objects ([[graft.operators.MultimodalOps]]
      // consumes exactly this shape): one row per file with its bytes and
      // fs metadata. Gated on basename, byte length, and an md5 of the
      // content against DuckDB's read_blob over the same staged files.
      s.read.format("binaryFile").load(binDir(s, dir))
        .select(element_at(split($"path", "/"), -1).as("fname"),
          $"length".as("n_bytes"), md5($"content").as("content_md5"))
        .orderBy($"fname")
    },

    "q_avro_source" -> { (s, dir) =>
      import s.implicits._
      // Orders through Avro container files (avro-core decode over
      // binaryFile — see [[graft.sources.AvroIo]]): exercises long, string,
      // double AND timestamp-micros round-trips. The max order date in each
      // status group is surfaced as a formatted day so a timestamp decode
      // defect breaks the hash without putting a raw timestamp in the
      // output (oracle determinism convention).
      avroRoundTrip(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("total_price"),
          date_format(max($"o_orderdate"), "yyyy-MM-dd").as("max_order_day"))
        .orderBy($"o_orderstatus")
    },

    "q_quarantine" -> { (s, dir) =>
      import s.implicits._
      // Dead-letter ingest ([[graft.sources.Quarantine.readJsonLines]]):
      // nation exported as JSON lines with every 5th record TRUNCATED
      // (invalid JSON), read back PERMISSIVE — good rows load parsed, the
      // broken lines route byte-for-byte to the DLQ (spec-pinned in
      // QuarantineSpec). The gate pins the good-row set: exactly the
      // non-corrupted keys, typed.
      val root = Staging.dir("quarantine", dir, "nation") { p =>
        t(s, dir, "nation")
          .select($"n_nationkey",
            to_json(struct($"n_nationkey", $"n_name", $"n_regionkey"))
              .as("js"))
          .select(when($"n_nationkey" % 5 === 0,
              expr("substring(js, 1, length(js) - 2)"))
            .otherwise($"js").as("value"))
          .write.mode("overwrite").text(p + "/in")
      }
      graft.sources.Quarantine.readJsonLines(s, root + "/in",
          "n_nationkey INT, n_name STRING, n_regionkey INT", root + "/dlq")
        .orderBy($"n_nationkey")
    },

    "q_snapshot_read" -> { (s, dir) =>
      import s.implicits._
      // Manifest-committed snapshot isolation
      // ([[graft.sources.SnapshotStore]] — the transactional-publish core
      // under every lake table format): v1 = full nation published, then
      // a CRASHED writer's orphan parquet lands under data/ (no manifest
      // references it), then v2 = region-filtered nation. The latest read
      // must see exactly v2 — the orphan and the superseded v1 are
      // invisible because readers resolve a manifest, never a listing.
      // Time travel + vacuum are spec-pinned (SnapshotStoreSpec).
      val root = Staging.dir("snapshot", dir, "nation") { p =>
        val n = t(s, dir, "nation")
        graft.sources.SnapshotStore.publish(n, p)
        n.limit(5).write.mode("overwrite").parquet(p + "/data/crashed-000")
        graft.sources.SnapshotStore.publish(n.filter($"n_regionkey" < 3), p)
        ()
      }
      graft.sources.SnapshotStore.read(s, root)
        .join(t(s, dir, "region"), $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name", $"r_name")
        .orderBy($"n_nationkey")
    },

    "q_snapshot_time_travel" -> { (s, dir) =>
      import s.implicits._
      // TIME TRAVEL through the snapshot layer: the same staged table as
      // q_snapshot_read (v1 = full nation, crashed-writer orphan, v2 =
      // region-filtered nation — [[Staging.dir]] dedupes the staging),
      // read at `Some(1)` AFTER v2 committed. The pinned-version read
      // must see exactly v1's rows — superseded versions stay readable
      // until vacuum, the contract reproducible batch re-runs stand on.
      // q_snapshot_read pins the latest-read half; this pins the
      // historical half under its own oracle (the UNFILTERED join).
      val root = Staging.dir("snapshot", dir, "nation") { p =>
        val n = t(s, dir, "nation")
        graft.sources.SnapshotStore.publish(n, p)
        n.limit(5).write.mode("overwrite").parquet(p + "/data/crashed-000")
        graft.sources.SnapshotStore.publish(n.filter($"n_regionkey" < 3), p)
        ()
      }
      graft.sources.SnapshotStore.read(s, root, Some(1))
        .join(t(s, dir, "region"), $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name", $"r_name")
        .orderBy($"n_nationkey")
    },

    "q_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      // Version-vs-version SEMANTIC DIFF through the snapshot layer
      // ([[graft.sources.SnapshotStore.diff]] — time travel composed with
      // [[graft.operators.MergeOps.snapshotDiff]]'s classification): the
      // q_corpus_diff construction published as manifest versions 1 and 2,
      // diffed by reading both versions back — same oracle as the
      // frame-level gate, so the whole publish → manifest → read → diff
      // chain must be value-transparent.
      val root = Staging.dir("snapdiff", dir, "documents") { p =>
        val d = t(s, dir, "documents").select($"doc_id", $"text")
        graft.sources.SnapshotStore.publish(
          d.filter(pmod($"doc_id", lit(7L)) =!= 0), p)
        graft.sources.SnapshotStore.publish(
          d.filter(pmod($"doc_id", lit(5L)) =!= 0)
            .withColumn("text",
              when(pmod($"doc_id", lit(11L)) === 0, concat($"text", lit(" v2")))
                .otherwise($"text")), p)
        ()
      }
      graft.sources.SnapshotStore.diff(s, root, 1, 2, Seq("doc_id"))
        .orderBy($"doc_id")
    },

    "q_schema_drift" -> { (s, dir) =>
      import s.implicits._
      // SCHEMA drift between committed versions
      // ([[graft.sources.SnapshotStore.schemaDrift]]): version 2 drops
      // n_name, adds name_len, retypes n_nationkey INT→STRING and keeps
      // n_regionkey — the report a consumer checks before assuming
      // yesterday's reader still binds. All four statuses exercised in
      // one gate; schema evolution across versions is legal because each
      // version's files are self-describing.
      val root = Staging.dir("schemadrift", dir, "nation") { p =>
        val n = t(s, dir, "nation")
        graft.sources.SnapshotStore.publish(
          n.select($"n_nationkey", $"n_name", $"n_regionkey"), p)
        graft.sources.SnapshotStore.publish(
          n.select($"n_nationkey".cast("string").as("n_nationkey"),
            $"n_regionkey", length($"n_name").as("name_len")), p)
        ()
      }
      graft.sources.SnapshotStore.schemaDrift(s, root, 1, 2)
        .orderBy($"column")
    },

    "q_fixedwidth_source" -> { (s, dir) =>
      import s.implicits._
      // Nation through a FIXED-WIDTH text export
      // ([[graft.sources.FixedWidthSource]] — the mainframe/legacy-billing
      // layout: no delimiter, byte-range columns, left-aligned
      // space-padded): staged once per (sf, JVM) with rpad, read back via
      // the registry's fields spec, cast-typed downstream exactly like the
      // CSV path, joined to region (parquet) to prove composition. The
      // oracle is the round-trip identity over the base tables.
      val staged = Staging.dir("fixedwidth", dir, "nation") { p =>
        t(s, dir, "nation").select(concat(
            rpad($"n_nationkey".cast("string"), 12, " "),
            rpad($"n_name", 32, " "),
            rpad($"n_regionkey".cast("string"), 12, " ")).as("value"))
          .write.mode("overwrite").text(p)
      }
      val n = graft.sources.SourceRegistry("fixedwidth").load(s, staged,
        Map("fields" -> "n_nationkey:12,n_name:32,n_regionkey:12"))
        .select($"n_nationkey".cast("int").as("n_nationkey"),
          $"n_name", $"n_regionkey".cast("int").as("n_regionkey"))
      n.join(t(s, dir, "region"), $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name", $"r_name")
        .orderBy($"n_nationkey")
    },

    "q_csv_source" -> { (s, dir) =>
      import s.implicits._
      // Nation through CSV: ints survive an explicit cast-back, strings are
      // header/quote-safe; joined to region (parquet) to prove the scan
      // composes with the relational surface.
      val n = csvRoundTrip(s, dir, "nation").select(
        $"n_nationkey".cast("int").as("n_nationkey"),
        $"n_name", $"n_regionkey".cast("int").as("n_regionkey"))
      n.join(t(s, dir, "region"), $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name", $"r_name")
        .orderBy($"n_nationkey")
    },

    "q_compact_files" -> { (s, dir) =>
      import s.implicits._
      // Small-file compaction round-trip ([[ScaleJoins.compactParquet]] —
      // the lake OPTIMIZE pass): part deliberately fragmented into 64
      // KB-scale shards (the streaming-sink/incremental-append accretion
      // pattern), compacted to ~256 KB files via a shuffle-free coalesce,
      // read back. The gate pins ROW preservation (round-trip identity vs
      // the base table); the file-count drop is spec-pinned in
      // ScaleJoinsSpec. Staged once per (sf, JVM).
      val root = Staging.dir("compact", dir, "part") { p =>
        t(s, dir, "part").repartition(64)
          .write.mode("overwrite").parquet(p + "/frag")
        ScaleJoins.compactParquet(s, p + "/frag", p + "/packed",
          targetFileBytes = 256L << 10)
        ()
      }
      s.read.parquet(root + "/packed").orderBy($"p_partkey")
    },

    "q_snapshot_compact" -> { (s, dir) =>
      import s.implicits._
      // Snapshot-layer OPTIMIZE ([[graft.sources.SnapshotStore.compact]]):
      // v1 = part published FRAGMENTED (64 shards — streaming-append
      // accretion inside a versioned table), then the RANGE-CLUSTERED
      // rewrite (sortCols = p_partkey) commits v2 through the same
      // lock+tmp+rename publish protocol every writer uses. The latest
      // read must see exactly the base rows — compaction is pure layout.
      // The clustering contract (disjoint per-file key ranges → parquet
      // min/max pruning on key scans), version semantics (v1 readable
      // until vacuum) and the already-compact no-op are spec-pinned in
      // SnapshotStoreSpec. Staged once per (sf, JVM).
      // 16 MB target: 64 shards of part sit far above the target file
      // COUNT at every tested SF (sf0.001 ≈ 100 KB total → 1 target file;
      // sf10 ≈ tens of MB → a handful), so the rewrite always triggers —
      // a KB-scale target would instead no-op once shards outgrow it.
      val root = Staging.dir("snapcompact", dir, "part") { p =>
        val base = t(s, dir, "part")
        graft.sources.SnapshotStore.publish(base.repartition(64), p)
        val v2 = graft.sources.SnapshotStore.compact(s, p,
          targetFileBytes = 16L << 20, sortCols = Seq("p_partkey"))
        require(v2.nonEmpty,
          "fixture must fragment past the target file count")
        ()
      }
      graft.sources.SnapshotStore.read(s, root).orderBy($"p_partkey")
    },

    "q_bucket_join" -> { (s, dir) =>
      import s.implicits._
      // Co-located fact-fact join over pre-bucketed tables
      // ([[graft.meta.IndexTables.overwrite]] +
      // [[graft.operators.ScaleJoins.bucketedJoin]]): orders and lineitem
      // both bucket 16 ways on the order key at WRITE time, so the join
      // reads align bucket-to-bucket with zero Exchange — at 100 TB the
      // one-time layout cost replaces the per-query shuffle of the two
      // biggest tables. The zero-Exchange plan shape is spec-pinned
      // (ScaleJoinsSpec, broadcast disabled); this gate pins the
      // bucketed READ path's correctness through the oracle at both SFs.
      // Staged once per (sf, JVM).
      val (ot, lt) = bucketJoinTables(s, dir)
      ScaleJoins.bucketedJoin(s, ot, lt, Seq("o_orderkey"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(dec($"l_extendedprice", 14, 2) *
            dec(lit(1) - $"l_discount", 8, 4))
            .cast("double").as("revenue"))
        .orderBy($"o_orderpriority")
    },

    "q_salted_join" -> { (s, dir) =>
      import s.implicits._
      // Skew-safe salted equi-join ([[ScaleJoins.saltedJoin]]): 1M-scale
      // events join their 5-row per-type dimension on event_type — the
      // textbook hot-key shape (every key is hot). The salt spreads each
      // type over 8 tasks; the result must equal the plain inner join,
      // pinned here through the per-(type, day) census with the dim
      // attribute riding along. The manual-salt lever for when AQE skew
      // handling can't reach the join (spec: ScaleJoinsSpec).
      val e = events(s, dir).select($"event_type",
        expr("ts div 86400000000000").as("day"))
      val dim = e.groupBy($"event_type")
        .agg(count(lit(1)).as("type_total"))
      ScaleJoins.saltedJoin(e, dim, Seq("event_type"), saltBuckets = 8)
        .groupBy($"event_type", $"day")
        .agg(count(lit(1)).as("n"), max($"type_total").as("type_total"))
        .orderBy($"event_type", $"day")
    },

    "q_schema_merge" -> { (s, dir) =>
      import s.implicits._
      // Parquet schema EVOLUTION across files of one dataset — the lake
      // reality `mergeSchema` exists for: files written before a column
      // landed must read with NULLs for it, files after with their values,
      // under one unioned schema. Staged once per (sf, JVM): even part
      // keys written v1 = (p_partkey, p_name), odd keys v2 = + p_retailprice;
      // the ROOT is read with mergeSchema (footer union at planning time —
      // no data pass) + recursiveFileLookup. The oracle reconstructs the
      // evolution view from the base table with a CASE.
      val root = Staging.dir("evolve", dir, "part") { p =>
        val b = t(s, dir, "part")
        b.filter($"p_partkey" % 2 === 0).select($"p_partkey", $"p_name")
          .write.mode("overwrite").parquet(p + "/v1")
        b.filter($"p_partkey" % 2 === 1)
          .select($"p_partkey", $"p_name", $"p_retailprice")
          .write.mode("overwrite").parquet(p + "/v2")
      }
      s.read.option("mergeSchema", "true").option("recursiveFileLookup", "true")
        .parquet(root)
        .select($"p_partkey", $"p_name", $"p_retailprice")
        .orderBy($"p_partkey")
    },

    "q_ttl_expire" -> { (s, dir) =>
      import s.implicits._
      // Partition-level TTL retention ([[GovernanceOps.expirePartitions]])
      // — the metadata-only complement of q_rtbf_forget's row-level
      // anti-join: events hive-partitioned by day (30 directories),
      // days < 19740 dropped as directory deletes with ZERO data read or
      // rewrite; surviving partitions' files stay byte-identical
      // (GovernanceOpsSpec pins paths + mtimes). Staged once per (sf,
      // JVM); the gate aggregates the survivors and the oracle filters the
      // base table by the same cutoff.
      val root = Staging.dir("ttl", dir, "events") { p =>
        val ev = events(s, dir).withColumn("day", expr("ts div 86400000000000"))
        ScaleJoins.writePartitioned(ev, p, Seq("day"))
        GovernanceOps.expirePartitions(s, p, "day", v => v.toLong >= 19740L)
        ()
      }
      ScaleJoins.readPartitioned(s, root)
        .groupBy($"day".cast("long").as("day"))
        .agg(count(lit(1)).as("n_events"),
          dsum($"value").as("sum_value"),
          sum($"user_id").as("sum_users"))
        .orderBy($"day")
    },

    "q_orc_source" -> { (s, dir) =>
      import s.implicits._
      // Customer through ORC (Spark's other native columnar format — the
      // typed schema round-trips losslessly like parquet, no cast-back
      // needed) aggregated per market segment, proving the ORC scan
      // composes with the relational surface.
      orcRoundTrip(s, dir, "customer")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), dsum($"c_acctbal").as("total_bal"))
        .orderBy($"c_mktsegment")
    },

    "q_json_source" -> { (s, dir) =>
      import s.implicits._
      // Supplier through JSON-lines (self-describing types survive without
      // casts, unlike CSV) aggregated per nation — proves the JSON scan
      // composes with the relational surface.
      jsonRoundTrip(s, dir, "supplier")
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"), dsum($"s_acctbal").as("total_bal"))
        .select($"s_nationkey".cast("int").as("s_nationkey"), $"n_suppliers", $"total_bal")
        .orderBy($"s_nationkey")
    }
  )

  val oracleSql: Map[String, String] = Map(
    // The oracle never opens the staged files: content came from the
    // parquet, so name/size/md5 are recomputable from the source of truth —
    // any write- or read-side corruption in the binary round-trip breaks
    // the hash. strlen = BYTES in DuckDB (length() is chars), matching the
    // file size Spark's binaryFile reports.
    "q_binary_source" ->
      """SELECT printf('doc_%05d.bin', doc_id) AS fname,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 20
        |ORDER BY fname""".stripMargin,

    "q_avro_source" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
        |  strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_order_day
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_csv_source" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    // Quarantine: the good-row set is exactly the non-truncated keys —
    // the staging rule (every 5th key corrupted) applied to the base.
    "q_quarantine" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_nationkey % 5 <> 0
        |ORDER BY n_nationkey""".stripMargin,

    // The committed-snapshot read: exactly v2's rows — the filter the
    // second publish applied — regardless of the orphan and v1 files
    // physically present under data/.
    "q_snapshot_read" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE n_regionkey < 3
        |ORDER BY n_nationkey""".stripMargin,

    // The pinned-version read sees v1 = the UNFILTERED table even though
    // v2 (the filtered publish) is the latest.
    "q_snapshot_time_travel" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    // Version diff through the snapshot layer ≡ the frame-level diff
    // (the q_corpus_diff construction recomputed from the base table).
    "q_snapshot_diff" ->
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

    // Schema drift: the staging rule's four statuses are a deterministic
    // function of the published projections, so the oracle is the literal
    // expected report.
    "q_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('n_name', 'removed', 'STRING', CAST(NULL AS VARCHAR)),
        |  ('n_nationkey', 'retyped', 'INT', 'STRING'),
        |  ('n_regionkey', 'unchanged', 'INT', 'INT'),
        |  ('name_len', 'added', CAST(NULL AS VARCHAR), 'INT'))
        |  AS t("column", status, type_a, type_b)
        |ORDER BY "column"""".stripMargin,

    // Round-trip identity: pad → substring → rtrim → cast recovers the
    // base rows exactly (names have no trailing spaces, widths cover the
    // domain), so the oracle is the same join the CSV gate pins.
    "q_fixedwidth_source" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "q_compact_files" ->
      """SELECT * FROM part ORDER BY p_partkey""",

    // Publish → range-clustered compact → read is row-identity on the
    // base table; everything layout-level is spec-pinned.
    "q_snapshot_compact" ->
      """SELECT * FROM part ORDER BY p_partkey""",

    // Salting is pure physics too: the salted join must equal the plain
    // inner join, row multiplicities included.
    "q_salted_join" ->
      """WITH e AS (SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS type_total
        |  FROM e GROUP BY 1)
        |SELECT e.event_type, day, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(type_total) AS BIGINT) AS type_total
        |FROM e JOIN d USING (event_type)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // The bucketed layout is pure physics: the join result must equal
    // the plain join of the base tables.
    "q_bucket_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
        |    * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // The TTL sweep must leave exactly the rows of the surviving day
    // partitions — the oracle applies the same day cutoff to the base
    // table (epoch_ns floor-div mirrors the gate's `ts div`, both on the
    // nanosecond clock).
    "q_ttl_expire" ->
      """SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_users
        |FROM events
        |WHERE epoch_ns(ts) // 86400000000000 >= 19740
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q_schema_merge" ->
      """SELECT p_partkey, p_name,
        |  CASE WHEN p_partkey % 2 = 1 THEN p_retailprice END AS p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_orc_source" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_json_source" ->
      """SELECT s_nationkey, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        |FROM supplier
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin
  )
}
