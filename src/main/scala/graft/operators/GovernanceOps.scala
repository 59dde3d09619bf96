package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.IndexTables
import graft.Tables.{dec, exactDouble}

/** Data-governance operators: retention sweeps and right-to-be-forgotten
  * (RTBF/GDPR-delete) over a training corpus AND the derived index tables.
  * This is the stage every production corpus pipeline needs and no query
  * engine gives you for free: deleting a document from `documents.parquet`
  * is not deletion while its shingle sets, band keys, embeddings codes,
  * and posting rows survive in derived state — the purge has to walk the
  * whole lineage.
  *
  * Shape discipline: every purge is a TOMBSTONE ANTI-JOIN. The tombstone
  * key-set (deletion requests, expired-retention keys) is tiny relative to
  * the corpus — thousands against billions — so it broadcasts, and the
  * corpus side never shuffles: at 100 TB the sweep is one scan + rewrite,
  * embarrassingly parallel. Derived BUCKETED tables (the LSH/IVF/postings
  * indexes) rewrite through [[IndexTables.rewrite]], which preserves the
  * catalog bucket spec, the index parameters stored as table properties
  * and the bucket-aligned zero-shuffle read — so a purge also COMPACTS
  * (one file per bucket out) and every post-purge probe keeps its
  * no-Exchange plan (pinned in GovernanceOpsSpec).
  */
object GovernanceOps {

  /** Normalize a tombstone frame to one distinct key column named `as`.
    * Distinct is cheap (the set is small) and load-bearing: duplicate
    * deletion requests are the norm, and a non-distinct broadcast side
    * would duplicate retained-side rows in a plain join formulation —
    * anti-join is immune, but the distinct also shrinks the broadcast.
    */
  private def keySet(tombstones: DataFrame, keyCol: String, as: String): DataFrame =
    tombstones.select(col(keyCol).as(as)).distinct()

  /** Corpus minus the tombstoned keys — the retention/RTBF rewrite for a
    * plain (path-based) dataset. Left-anti with the tombstone set
    * broadcast: the corpus reads straight through, no shuffle, no sort;
    * rows whose key matches any tombstone vanish, everything else passes
    * byte-identically. `broadcastTombstones = false` falls back to a
    * shuffled anti-join for the rare retention sweep whose resolved
    * key-set is itself huge (e.g. "forget every doc from a decommissioned
    * source" materialized as keys — though THAT sweep is better written as
    * a predicate filter in the first place).
    */
  def forgetDocs(corpus: DataFrame, keyCol: String, tombstones: DataFrame,
      tombKeyCol: String, broadcastTombstones: Boolean = true): DataFrame = {
    val t0 = keySet(tombstones, tombKeyCol, keyCol)
    val t = if (broadcastTombstones) broadcast(t0) else t0
    corpus.join(t, Seq(keyCol), "left_anti")
  }

  /** The deletion AUDIT TRAIL — what a compliance review actually asks
    * for: which keys disappeared between the pre-purge and post-purge
    * snapshots, via [[MergeOps.snapshotDiff]] (full-outer on the key,
    * null-safe column compare). `removed` rows are the executed deletions;
    * any `changed`/`added` row in the result is a purge that did more than
    * delete — a defect surfaced, not masked.
    */
  def forgetAudit(before: DataFrame, after: DataFrame, keys: Seq[String]): DataFrame =
    MergeOps.snapshotDiff(before, after, keys)
      .filter(col("status") =!= "unchanged")

  /** Deterministic PSEUDONYMIZATION of identifier columns — the
    * share-with-analysts rewrite between raw data and full deletion:
    * each listed column is replaced by a salted token
    * `polyHash(salt ‖ ':' ‖ value)` so (a) raw identifiers leave the
    * frame, (b) equal inputs map to equal tokens — joins, groupings and
    * per-entity analytics still work across every pseudonymized table
    * sharing the salt, and (c) rotating the salt unlinks all historical
    * exports at once (the per-dataset secret is the GDPR-art.4(5)
    * "additional information kept separately"). A per-row token is a
    * pure codegen'd expression — no shuffle, no state, no lookup table
    * to govern.
    *
    * The hash is [[graft.operators.TextOps.polyHash]] (≈30 informative
    * bits): collisions are birthday-bounded (~2⁻³⁰·n²/2 expected), fine
    * for analytics pseudonyms; swap in the 60-bit
    * [[graft.operators.TextOps]] wide form upstream if a keyspace is
    * collision-sensitive. NULL identifiers stay NULL (a token for NULL
    * would fabricate an entity).
    */
  def pseudonymize(df: DataFrame, cols: Seq[String], salt: String): DataFrame = {
    require(cols.nonEmpty, "pseudonymize needs at least one column")
    require(salt.nonEmpty, "an empty salt defeats unlinkability")
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).isNull, lit(null).cast("long"))
          .otherwise(TextOps.polyHash(
            concat(lit(salt), lit(":"), col(c).cast("string")))))
    }
  }

  /** Purge tombstoned keys from a BUCKETED managed table in place,
    * preserving its bucket spec and properties ([[IndexTables.rewrite]]):
    * the read is bucket-aligned (no shuffle), the anti-join is broadcast
    * (partition-local), and the writer re-emits one file per non-empty
    * bucket — purge and compaction in the same single pass. Returns
    * (dataFilesBefore, dataFilesAfter).
    */
  def purgeKeysBucketed(spark: SparkSession, table: String, keyCol: String,
      tombstones: DataFrame, tombKeyCol: String): (Int, Int) =
    IndexTables.rewrite(spark, table) { df =>
      // Restore the table's column ORDER after the using-column join:
      // Spark moves the join key to the front of a USING join's output,
      // and a purge must be a pure row filter — readers address bucketed
      // index tables positionally (toDF renames), so a silent reorder
      // turns every later probe into nonsense. Caught by the window-index
      // RTBF spec (ref_id is the windows table's SECOND column; the LSH/
      // IVF tables' keys happen to be first, which masked this).
      df.join(broadcast(keySet(tombstones, tombKeyCol, keyCol)),
          Seq(keyCol), "left_anti")
        .select(df.columns.map(col).toIndexedSeq: _*)
    }

  /** RTBF over a persisted LSH corpus index ([[MinHashLsh.saveLshIndex]]):
    * purge the tombstoned doc ids from BOTH index tables. The post-purge
    * index is row-identical to one built from scratch over the retained
    * corpus (spec-pinned), so probes can never surface a forgotten
    * document.
    *
    * The two rewrites are not atomic; either crash order is OUTPUT-safe —
    * a band row without its sets row generates a candidate the verify
    * inner-join drops, a sets row without band rows is never looked up —
    * so a half-completed purge yields no forgotten id in any probe result;
    * re-run to finish removing the residual rows themselves. Bands go
    * first: band keys are the rows probes actively collide with, sets are
    * passive lookup targets.
    */
  def forgetFromLshIndex(spark: SparkSession, name: String,
      tombstones: DataFrame, tombKeyCol: String): Unit = {
    purgeKeysBucketed(spark, s"${name}_bands", "doc_id", tombstones, tombKeyCol)
    purgeKeysBucketed(spark, s"${name}_sets", "doc_id", tombstones, tombKeyCol)
    ()
  }

  /** RTBF over a persisted IVF ANN index ([[VectorOps.saveIvfIndex]]):
    * purge the tombstoned vector ids from the bucketed inverted-list
    * table, so similarity search can never return a forgotten vector (and
    * its embedding — content-derived data — is actually gone). The
    * centroids table holds only cluster means, not per-vector data, and is
    * untouched; post-purge search equals a from-scratch build on the
    * retained vectors with the same centroids (spec-pinned).
    */
  def forgetFromIvfIndex(spark: SparkSession, name: String,
      tombstones: DataFrame, tombKeyCol: String): Unit = {
    purgeKeysBucketed(spark, s"${name}_members", "neighbor_id",
      tombstones, tombKeyCol)
    ()
  }

  /** RTBF over a persisted IVF-PQ codes index
    * ([[graft.operators.VectorOps.saveIvfPqIndex]]): purge the tombstoned
    * vector ids from the bucketed codes table. A PQ code is
    * content-derived data (the codeword ids reconstruct an approximation
    * of the forgotten embedding), so it must actually go, exactly like
    * the raw vectors in [[forgetFromIvfIndex]]. Centroid and codebook
    * tables hold only aggregate/training artifacts shared across the
    * corpus and are untouched; post-purge probes equal a from-scratch
    * encode of the retained vectors with the same centroids/codebooks
    * (spec-pinned in GovernanceOpsSpec).
    */
  def forgetFromIvfPqIndex(spark: SparkSession, name: String,
      tombstones: DataFrame, tombKeyCol: String): Unit = {
    purgeKeysBucketed(spark, s"${name}_codes", "id", tombstones, tombKeyCol)
    ()
  }

  /** RTBF over a persisted decontamination window index
    * ([[CorpusOps.saveWindowIndex]]): purge a withdrawn benchmark
    * document's windows from the bucketed table — after the purge no
    * probe can report contamination against it, and the index is
    * row-identical to a rebuild without the document EXCEPT for the
    * documented boilerplate-cap nuance: the build-time ref-df cap was
    * computed over the original benchmark, so windows the removed doc had
    * pushed over the cap stay excluded (re-run [[CorpusOps.saveWindowIndex]]
    * when cap drift matters — it rarely does; removal only ever UNDER-
    * reports boilerplate, never leaks the removed doc).
    */
  def forgetFromWindowIndex(spark: SparkSession, name: String,
      tombstones: DataFrame, tombKeyCol: String): Unit = {
    purgeKeysBucketed(spark, s"${name}_windows", "ref_id",
      tombstones, tombKeyCol)
    ()
  }

  /** k-anonymity / l-diversity risk report (Sweeney 2002; Machanavajjhala
    * et al. 2007) — the release-gate check before a dataset with
    * quasi-identifier columns leaves the pipeline: a QUASI-IDENTIFIER
    * group smaller than `k` re-identifies its members by linkage, and a
    * group whose SENSITIVE column carries fewer than `l` distinct values
    * discloses the attribute even at size ≥ k. Reports every risky group
    * with both metrics; an empty result is the release condition.
    *
    * Shape: one hash aggregate keyed on the quasi-identifier columns
    * (exact per-group size + exact distinct-sensitive count), then a
    * filter — the output is bounded by the RISKY groups, which is the
    * point of the check. No windows, no joins.
    */
  def anonymityRisk(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Int, l: Int): DataFrame =
    anonymityRiskFromCounts(
      df.groupBy((quasiCols :+ sensitiveCol).map(col): _*)
        .agg(count(lit(1)).as("__graft_c")),
      quasiCols, sensitiveCol, "__graft_c", k, l)

  /** [[anonymityRisk]] over PRE-AGGREGATED (quasi-identifier…, sensitive
    * value, count) cells — the formula half, split out for the streaming
    * monitor (the FromCounts pattern of
    * [[graft.operators.StatOps.chiSquareFromCounts]] and friends): keyed
    * stream state owns the per-QI-group sensitive-value count map, this
    * closes group size and distinct-sensitive batch-side, and the batch
    * gate's oracle gates both. At most one row per (QI…, value) is
    * assumed. `group_size` sums the counts (NULL sensitive rows INCLUDED
    * — they link like any other row); `n_sensitive` counts the non-null
    * value cells, matching `countDistinct`'s null-skipping on raw rows.
    */
  def anonymityRiskFromCounts(counts: DataFrame, quasiCols: Seq[String],
      valueCol: String, cntCol: String, k: Int, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k-anonymity below 2 is no anonymity, got $k")
    require(l >= 1, s"l must be >= 1, got $l")
    counts.groupBy(quasiCols.map(col): _*)
      .agg(sum(col(cntCol)).as("group_size"),
        count(when(col(valueCol).isNotNull, lit(1))).as("n_sensitive"))
      .filter(col("group_size") < k || col("n_sensitive") < l)
      .select(quasiCols.map(col) ++ Seq(
        col("group_size"), col("n_sensitive"),
        (col("group_size") < k).as("k_risk"),
        (col("n_sensitive") < l).as("l_risk")): _*)
  }

  /** t-CLOSENESS risk report (Li, Li & Venkatasubramanian ICDE 2007) — the
    * disclosure check [[anonymityRisk]]'s l-diversity cannot make: a group
    * can carry l distinct sensitive values yet still disclose the
    * attribute when its DISTRIBUTION leans far from the table's (the
    * classic "all salaries in this group are the three lowest" leak).
    * Closeness here is total-variation distance between the group's
    * sensitive-value distribution and the global one — for categorical
    * attributes TVD is exactly the equal-ground-distance Earth Mover's
    * Distance the paper uses, and unlike KL it needs no `log`, so the
    * statistic hash-gates (the [[graft.operators.CorpusOps.tokenDrift]]
    * exactness argument):
    *
    *   t(g) = TVD = (Σ_v |c_v·N − C_v·n|) / (2·n·N)
    *
    * with c the group's value counts (n = Σc), C the global counts
    * (N = ΣC). Values absent from the group never materialize as rows:
    * their mass enters through the closed form n·(N − Σ_{v∈g} C_v). The
    * numerator accumulates as (18,0)×(19,0) DECIMAL products (exact to
    * N < 10¹⁸ rows) and is exposed as its digit string.
    *
    * Scale posture: one (QI, value) combiner-reduced count, one
    * VALUE-keyed equi-join against the ≤|domain| global count table
    * (broadcast), two closing hash aggregates — never a per-group scan of
    * the value domain. NULL sensitive values and NULL quasi-identifier
    * groups are first-class (null-safe `<=>` join keys — NULL is a
    * category, not a dropped row). Output: every QI group with (group_size, t_num,
    * t_closeness, t_risk = t > tNum/tDen), one row per group — release
    * condition: no t_risk row.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    val qi = quasiCols.map(col)
    tClosenessFromCounts(
      df.groupBy((qi :+ col(sensitiveCol).as("sv")): _*)
        .agg(count(lit(1)).as("c")),
      quasiCols, "sv", "c", tNum, tDen)
  }

  /** [[tCloseness]] over PRE-AGGREGATED (quasiCols…, sensitive value,
    * count) rows — the formula half of the operator, split out so a
    * STREAMING monitor can feed it the (QI, value) counts its keyed state
    * emitted at the watermark (the batch operator is
    * `groupBy(...).count` composed with this). At most one row per
    * (QI, value) pair is assumed (the aggregate's contract); the count
    * column must be a non-null integral.
    */
  def tClosenessFromCounts(counts: DataFrame, quasiCols: Seq[String],
      svCol: String, cntCol: String, tNum: Int, tDen: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(tNum >= 0 && tDen > 0, s"bad threshold $tNum/$tDen")
    val qi = quasiCols.map(col)
    val cs = counts.select(
      (qi :+ col(svCol).as("sv")) :+ col(cntCol).cast("long").as("c"): _*)
    val glob = cs.groupBy(col("sv")).agg(sum(col("c")).as("cg"))
    val ns = cs.groupBy(qi: _*).agg(sum(col("c")).as("n"))
    val nAll = cs.agg(sum(col("c")).as("nn"))
    // NULL-SAFE (<=>) join keys throughout — still planned as hash joins
    // (EqualNullSafe is an equi-join key to Catalyst). A NULL sensitive
    // value is a legitimate category (its mass must not silently migrate
    // into the absent-value closed form), and a group with a NULL
    // quasi-identifier is still a group a release gate must report —
    // plain equi-joins would drop both (r16 ADVICE).
    val globR = glob.withColumnRenamed("sv", "sv__tc")
    val nsR = quasiCols.foldLeft(ns)((d, c) => d.withColumnRenamed(c, s"${c}__tc"))
    val qiEq = quasiCols.map(c => col(c) <=> col(s"${c}__tc")).reduce(_ && _)
    val pres = cs.join(broadcast(globR), col("sv") <=> col("sv__tc")).drop("sv__tc")
      .join(nsR, qiEq).drop(quasiCols.map(c => s"${c}__tc"): _*)
      .crossJoin(broadcast(nAll))
      .groupBy(qi: _*)
      .agg(
        sum(abs(dec(col("c"), 18, 0) * dec(col("nn"), 19, 0) -
          dec(col("cg"), 18, 0) * dec(col("n"), 19, 0))).as("num_present"),
        sum(col("cg")).as("cg_present"))
    pres.join(nsR, qiEq).drop(quasiCols.map(c => s"${c}__tc"): _*)
      .crossJoin(broadcast(nAll))
      .select(qi ++ Seq(
        col("n").as("group_size"),
        (col("num_present") +
          dec(col("n"), 18, 0) * dec(col("nn") - col("cg_present"), 19, 0))
          .cast("decimal(38,0)").as("t_num"),
        col("n"), col("nn")): _*)
      .select(qi ++ Seq(
        col("group_size"),
        col("t_num").cast("string").as("t_num"),
        (exactDouble(col("t_num")) /
          (lit(2.0) * col("n").cast("double") * col("nn").cast("double")))
          .as("t_closeness"),
        // IEEE chain on exact operands — identical across engines, so the
        // flag itself hash-gates.
        (exactDouble(col("t_num")) * lit(tDen.toDouble) >
          lit(2.0 * tNum) * col("n").cast("double") * col("nn").cast("double"))
          .as("t_risk")): _*)
  }

  /** Partition-level retention (TTL) sweep over a
    * [[ScaleJoins.writePartitioned]] layout: every `partCol=value`
    * directory whose value fails `keep` is DROPPED — a metadata-only
    * operation (directory deletes; zero data read, zero rewrite). This is
    * the scale-correct form of "expire events older than N days" when the
    * layout is partitioned by the retention column: [[forgetDocs]]'
    * row-level anti-join must scan-and-rewrite the dataset, which is right
    * for arbitrary key sets and WRONG for age-based retention — at 100 TB
    * an aligned TTL sweep costs directory listings, and the surviving
    * partitions' data files are untouched byte-for-byte (spec-pinned via
    * listing + modification times in GovernanceOpsSpec).
    *
    * `keep` receives the RAW directory value string (hive-unescaped by
    * the caller if the partition column can carry special characters —
    * the retention columns this is for, dates/days/months, cannot).
    * Non-partition files at the root (_SUCCESS etc.) are ignored. Returns
    * the dropped values, sorted, for the audit log.
    */
  def expirePartitions(spark: SparkSession, path: String, partCol: String,
      keep: String => Boolean): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partCol="
    val parts = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
    require(parts.nonEmpty,
      s"no $prefix* partition directories under $path — wrong column or layout?")
    val dropped = parts
      .filter(st => !keep(st.getPath.getName.stripPrefix(prefix)))
    dropped.foreach(st => fs.delete(st.getPath, true))
    dropped.map(_.getPath.getName.stripPrefix(prefix)).toSeq.sorted
  }
}
