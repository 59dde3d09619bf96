package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.operators._

/** Helpers shared across the pipeline query-family files: DuckDB
  * dialect builders (hashes, dot products, CTE chains), staged-index
  * builders, and the oracle texts shared by batch/stream gate twins.
  */
object QueryShared {

  /** BM25 CTE chain ending in `s(doc_id, score)` — shared by the two BM25
    * gates and the hybrid-retrieval composition.
    */
  private[queries] val bm25Ctes =
      """dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl FROM dl),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE token IN ('join', 'spark', 'vector') GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |c AS (SELECT tf.doc_id, tf.token,
        |    ((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * (tf * (CAST(1.2 AS DOUBLE) + 1))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (CAST(sumdl AS DOUBLE) / n)))) AS contrib
        |  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st),
        |s AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN token = 'join' THEN contrib END), 0.0)
        |    + coalesce(sum(CASE WHEN token = 'spark' THEN contrib END), 0.0)
        |    + coalesce(sum(CASE WHEN token = 'vector' THEN contrib END), 0.0) AS score
        |  FROM c GROUP BY doc_id)""".stripMargin

  private[queries] val Bm25Oracle =
      s"""WITH $bm25Ctes
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk,
        |  doc_id, score
        |FROM s ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ---- DuckDB oracle fragments -------------------------------------------

  /** Shared by q_simhash_neardup AND q_stream_neardup: the brute-force
    * all-pairs Hamming scan both banded operators equal by pigeonhole.
    */
  private[queries] lazy val simhashNearDupOracle =
    s"""WITH tk AS (SELECT doc_id,
       |  list_transform(string_split(text, ' '), tok -> ${duckWideHash("tok")}) AS th
       |  FROM documents
       |  -- mirrors SimHash.nearDupPairs' degenerate-doc exclusion
       |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
       |t AS (SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0, 60), b ->
       |    CASE WHEN list_sum(list_transform(th, h ->
       |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM tk)
       |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
       |FROM t a JOIN t b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.s, b.s)) <= 3
       |ORDER BY doc_i, doc_j""".stripMargin

  /** Shared by q_embed_neardup AND q_stream_embed_neardup: brute-force
    * all-pairs SRP+cosine scan over base ∪ planted twins.
    */
  private[queries] lazy val embedNearDupOracle: String = {
      // k-th hyperplane dot, 0-based dim index j0 = j-1 (DuckDB range is
      // 1-based here): weight = ((k+1)*(j0+7)*2654435761) % 1000003 - 501001.
      val srpDot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, 65), j -> e[j] * CAST((((k+1) * (j+6) * 2654435761) % 1000003) - 501001 AS DOUBLE))), " +
        "(acc, x) -> acc + x)"
      s"""WITH base AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_concat([embedding[1] * CAST(2 AS FLOAT)], embedding[2:])
         |  FROM embeddings),
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM base),
         |s AS (SELECT vec_id, e,
         |  CAST(list_sum(list_transform(range(0, 32), k ->
         |    CASE WHEN $srpDot > 0 THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END))
         |    AS BIGINT) AS sig
         |  FROM v),
         |n AS (SELECT vec_id, e, sig, ${duckDot("e", "e")} AS nn FROM s)
         |SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
         |  ${duckDot("a.e", "b.e")} / sqrt(a.nn * b.nn) AS cos
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY vec_i, vec_j""".stripMargin
    }

  /** Shared by q_ann_ivf AND q_ivf_append: probe-and-rank over the
    * fixed centroid set — the appended index state equals the
    * built-at-once state, so one SQL gates both.
    */
  private[queries] lazy val annIvfOracle =
    s"""WITH $embCte,
         |cen AS (SELECT vec_id AS cid, e, nn FROM n WHERE vec_id < 10),
         |asg AS (SELECT vec_id, cluster_id FROM (
         |  SELECT d.vec_id, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |      ORDER BY ${duckDot("d.e", "c.e")} / sqrt(d.nn * c.nn) DESC, c.cid) AS rn
         |  FROM n d CROSS JOIN cen c) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, e, nn FROM n WHERE vec_id BETWEEN 100 AND 109),
         |probes AS (SELECT qid, cluster_id FROM (
         |  SELECT q.qid, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.qid
         |      ORDER BY ${duckDot("q.e", "c.e")} / sqrt(q.nn * c.nn) DESC, c.cid) AS rn
         |  FROM q CROSS JOIN cen c) WHERE rn <= 2),
         |cand AS (SELECT p.qid, a.vec_id AS nid
         |  FROM probes p JOIN asg a ON a.cluster_id = p.cluster_id
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid AS query_id, CAST(rnk AS INT) AS rnk, nid AS neighbor_id, cos FROM (
         |  SELECT cand.qid, cand.nid,
         |    ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY cand.qid
         |      ORDER BY ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) DESC, cand.nid) AS rnk
         |  FROM cand JOIN n q ON q.vec_id = cand.qid JOIN n d ON d.vec_id = cand.nid)
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin


  /** The χ² oracle, shared by q_chi_square (batch) and
    * q_stream_chi_square (streamed contingency cells through
    * [[graft.operators.StatOps.chiSquareFromCounts]] — the stream
    * reconstructs the exact `src<idx>` strings so the sorted fold's
    * IEEE sum order matches).
    */
  private[queries] lazy val chiSquareOracle: String =
    """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
      |  FROM documents GROUP BY 1, 2),
      |rt AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
      |ct AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
      |tot AS (SELECT sum(o) AS n,
      |    count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b FROM cells),
      |terms AS (SELECT cells.a, cells.b,
      |    (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
      |    * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
      |    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) AS term,
      |    n, n_a, n_b
      |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot)
      |SELECT CAST(n AS BIGINT) AS n, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b,
      |  CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY a, b)),
      |    (acc, x) -> acc + x) AS chi2
      |FROM terms GROUP BY n, n_a, n_b""".stripMargin

  /** The KS-drift oracle, shared by q_ks_drift (batch) and
    * q_stream_ks_drift (streamed value-count maps through the same
    * [[graft.operators.StatOps.ksDriftFromCounts]] formula).
    */
  private[queries] lazy val ksDriftOracle: String =
    """WITH b AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v
      |  FROM documents WHERE n_chars IS NOT NULL),
      |lv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY g, v),
      |tot AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM b GROUP BY v),
      |ng AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY g),
      |na AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM b),
      |grid AS (SELECT ng.g, ng.n, tot.v, tot.t, COALESCE(lv.c, 0) AS c, nn
      |  FROM ng CROSS JOIN tot CROSS JOIN na
      |  LEFT JOIN lv ON lv.g = ng.g AND lv.v = tot.v),
      |cum AS (SELECT g, n, nn, v,
      |    SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum_c,
      |    SUM(t) OVER (PARTITION BY g ORDER BY v) AS cum_t
      |  FROM grid),
      |a AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(MAX(nn - n) AS BIGINT) AS n_rest,
      |    CAST(MAX(abs(CAST(cum_c AS DECIMAL(18,0)) * CAST(nn - n AS DECIMAL(19,0))
      |      - CAST(cum_t - cum_c AS DECIMAL(18,0)) * CAST(n AS DECIMAL(19,0))))
      |      AS DECIMAL(38,0)) AS ks_num
      |  FROM cum GROUP BY g)
      |SELECT g AS lang, n, n_rest, CAST(ks_num AS VARCHAR) AS ks_num,
      |  CASE WHEN n_rest = 0 THEN NULL
      |    ELSE CAST(CAST(ks_num AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(CAST(CAST(n AS DECIMAL(18,0))
      |          * CAST(n_rest AS DECIMAL(19,0)) AS DECIMAL(38,0))
      |          AS VARCHAR) AS DOUBLE) END AS ks
      |FROM a ORDER BY lang""".stripMargin

  /** The t-closeness oracle, shared by q_t_closeness (batch) and
    * q_stream_t_closeness (streamed counts through the same formula).
    */
  private[queries] lazy val tClosenessOracle: String =
    """WITH e AS (SELECT event_type,
      |    epoch_ns(ts) // 86400000000000 AS day,
      |    user_id % 50 AS sv FROM events),
      |cs AS (SELECT event_type, day, sv, CAST(count(*) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2, 3),
      |gl AS (SELECT sv, CAST(sum(c) AS BIGINT) AS cg FROM cs GROUP BY sv),
      |ns AS (SELECT event_type, day, CAST(sum(c) AS BIGINT) AS n
      |  FROM cs GROUP BY 1, 2),
      |na AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cs),
      |pres AS (SELECT cs.event_type, cs.day,
      |    SUM(abs(CAST(c AS DECIMAL(18,0)) * CAST(nn AS DECIMAL(19,0))
      |      - CAST(cg AS DECIMAL(18,0)) * CAST(n AS DECIMAL(19,0))))
      |      AS num_present,
      |    CAST(sum(cg) AS BIGINT) AS cg_present
      |  FROM cs JOIN gl USING (sv) JOIN ns USING (event_type, day)
      |  CROSS JOIN na
      |  GROUP BY 1, 2),
      |f AS (SELECT pres.event_type, pres.day, n AS group_size,
      |    CAST(num_present + CAST(n AS DECIMAL(18,0))
      |      * CAST(nn - cg_present AS DECIMAL(19,0)) AS DECIMAL(38,0))
      |      AS t_num, n, nn
      |  FROM pres JOIN ns USING (event_type, day) CROSS JOIN na)
      |SELECT event_type, day, group_size,
      |  CAST(t_num AS VARCHAR) AS t_num,
      |  CAST(CAST(t_num AS VARCHAR) AS DOUBLE)
      |    / (2.0 * CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)) AS t_closeness,
      |  CAST(CAST(t_num AS VARCHAR) AS DOUBLE) * 4.0
      |    > 2.0 * CAST(n AS DOUBLE) * CAST(nn AS DOUBLE) AS t_risk
      |FROM f ORDER BY event_type, day""".stripMargin

  /** The IVF-PQ tuning grid, split across two gates (r17 VERDICT item 3)
    * that share the (m=2, 8 codes, nProbe=3) anchor: q_ivfpq_curve sweeps
    * the nProbe dial, q_ivfpq_curve_dims the codebook-size and
    * sub-quantizer-count dials. Each list is shared by its Spark gate and
    * its oracle generator so both sweep identically.
    */
  private[queries] val ivfPqCurveProbeConfigs: Seq[(Int, Int, Int)] =
    Seq((2, 8, 1), (2, 8, 2), (2, 8, 3))

  private[queries] val ivfPqCurveDimsConfigs: Seq[(Int, Int, Int)] =
    Seq((1, 8, 3), (2, 8, 3), (2, 16, 3), (4, 8, 3))

  /** The per-config recall@3 sweep over `configs` — see the q_ivfpq_curve
    * gate doc. One union branch per (m, nCodes, nProbe); identical truth
    * and query subtrees dedupe via ReuseExchange inside the one job
    * (checkpointing measured SLOWER and reverted — BASELINE.md r17).
    */
  private[queries] def ivfPqCurveQuery(s: SparkSession, dir: String,
      configs: Seq[(Int, Int, Int)]): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val centroids = e.filter($"vec_id" < 10)
    val queriesDf = e.filter($"vec_id".between(100, 109))
    val truth = VectorOps.topK(e, queriesDf, "vec_id", "embedding", k = 3)
      .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j"))
    def branch(m: Int, nCodes: Int, nProbe: Int) = {
      val sd = 64 / m
      val res = VectorOps.ivfResiduals(
        e.filter($"vec_id".between(20, 19 + nCodes)),
        "vec_id", "embedding", centroids)
      val cbs = res.select(explode(array((0 until m).map(sub =>
          struct(lit(sub).as("sub"), $"id".as("cid"),
            slice($"rvec", sub * sd + 1, sd).as("cvec"))): _*)).as("cb"))
        .select($"cb.sub".as("sub"), $"cb.cid".as("cid"),
          $"cb.cvec".as("cvec"))
      val enc = VectorOps.ivfPqEncode(e, "vec_id", "embedding", centroids,
        cbs, m = m, dim = 64)
      EvalOps.pairSetPrf(
        VectorOps.ivfPqSearch(enc, centroids, queriesDf, "vec_id",
            "embedding", cbs, m = m, dim = 64, k = 3, nProbe = nProbe)
          .select($"query_id".as("doc_i"), $"neighbor_id".as("doc_j")),
        truth)
        .select(lit(m).as("m"), lit(nCodes).as("n_codes"),
          lit(nProbe).as("n_probe"), $"tp", $"fp", $"fn",
          $"precision", $"recall", $"f1")
    }
    configs.map { case (m, nc, np) => branch(m, nc, np) }
      .reduce(_ unionByName _)
      .orderBy($"m", $"n_codes", $"n_probe")
  }

  /** One q_ivfpq_curve oracle branch: the [[ivfPqCtes]] chain
    * parameterized over (m, nCodes, nProbe) with per-config CTE-name
    * suffixes (rv/asg/q/tr are shared across branches). Slices are
    * 1-based inclusive `[lo:hi]`, codebook ids run 20..19+nCodes, and the
    * ADC sum keeps the sorted-fold determinism convention.
    */
  private[queries] def ivfPqCurveBranch(m: Int, nCodes: Int, nProbe: Int): String = {
    val sd = 64 / m
    val x = s"_${m}_${nCodes}_$nProbe"
    val sp = (0 until m).map(i => s"SELECT $i AS sub").mkString(" UNION ALL ")
    def slc(v: String, subRef: String): String =
      if (m == 1) s"$v[1:64]"
      else "CASE " + (0 until m).map(i =>
        s"WHEN $subRef = $i THEN $v[${i * sd + 1}:${(i + 1) * sd}]")
        .mkString(" ") + " END"
    s"""cb$x AS (SELECT sp.sub, rv.vec_id AS cid, ${slc("r", "sp.sub")} AS cvec
       |  FROM rv, ($sp) sp WHERE rv.vec_id BETWEEN 20 AND ${19 + nCodes}),
       |ds$x AS (SELECT rv.vec_id AS id, rv.cluster_id, sp.sub,
       |    ${slc("r", "sp.sub")} AS dv
       |  FROM rv, ($sp) sp),
       |enc$x AS (SELECT id, cluster_id, sub, cid AS code FROM (
       |  SELECT d.id, d.cluster_id, d.sub, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY d.id, d.sub
       |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(1, len(d.dv)+1),
       |          i -> (d.dv[i]-c.cvec[i])*(d.dv[i]-c.cvec[i]))),
       |        (a, x) -> a + x) ASC, c.cid ASC) AS rn
       |  FROM ds$x d JOIN cb$x c ON c.sub = d.sub) WHERE rn = 1),
       |probes$x AS (SELECT query_id, cluster_id, qc FROM (
       |  SELECT q.query_id, c.cid AS cluster_id, ${duckDot("q.e", "c.e")} AS qc,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id
       |      ORDER BY ${duckDot("q.e", "c.e")} DESC, c.cid) AS rn
       |  FROM q CROSS JOIN cen c) WHERE rn <= $nProbe),
       |qs$x AS (SELECT query_id, sp.sub, ${slc("e", "sp.sub")} AS qv
       |  FROM q, ($sp) sp),
       |lut$x AS (SELECT qs.query_id, qs.sub, c.cid AS code,
       |    ${duckDot("qs.qv", "c.cvec")} AS part
       |  FROM qs$x qs JOIN cb$x c ON c.sub = qs.sub),
       |sc$x AS (SELECT p.query_id, enc.id AS neighbor_id,
       |    MIN(p.qc) + list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_sort(list(part))), (a, x) -> a + x) AS adc
       |  FROM enc$x enc
       |  JOIN probes$x p ON p.cluster_id = enc.cluster_id
       |  JOIN lut$x l ON l.query_id = p.query_id AND l.sub = enc.sub
       |    AND l.code = enc.code
       |  WHERE enc.id <> p.query_id
       |  GROUP BY p.query_id, enc.id
       |  HAVING count(*) = $m),
       |pred$x AS (SELECT query_id AS di, neighbor_id AS dj FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
       |  FROM sc$x) WHERE rnk <= 3),
       |c$x AS (SELECT CAST(SUM(inp * intr) AS BIGINT) AS tp,
       |    CAST(SUM(inp * (1 - intr)) AS BIGINT) AS fp,
       |    CAST(SUM((1 - inp) * intr) AS BIGINT) AS fn
       |  FROM (SELECT
       |      CASE WHEN p.di IS NOT NULL THEN 1 ELSE 0 END AS inp,
       |      CASE WHEN t.di IS NOT NULL THEN 1 ELSE 0 END AS intr
       |    FROM pred$x p FULL JOIN tr t ON p.di = t.di AND p.dj = t.dj))""".stripMargin
  }

  /** A full tuning-curve oracle over `configs`: the shared CTE spine
    * (embeddings, centroids, assignment, residuals, queries, truth) plus
    * one [[ivfPqCurveBranch]]/[[ivfPqCurveSelect]] pair per config.
    */
  private[queries] def ivfPqCurveOracle(configs: Seq[(Int, Int, Int)]): String =
    s"""WITH $embCte,
       |cen AS (SELECT vec_id AS cid, e, nn FROM n WHERE vec_id < 10),
       |asg AS (SELECT vec_id, cluster_id FROM (
       |  SELECT d.vec_id, c.cid AS cluster_id,
       |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |      ORDER BY ${duckDot("d.e", "c.e")} / sqrt(d.nn * c.nn) DESC, c.cid) AS rn
       |  FROM n d CROSS JOIN cen c) WHERE rn = 1),
       |rv AS (SELECT n.vec_id, asg.cluster_id,
       |    list_transform(range(1, len(n.e)+1), i -> n.e[i] - c.e[i]) AS r
       |  FROM n JOIN asg ON asg.vec_id = n.vec_id
       |  JOIN cen c ON c.cid = asg.cluster_id),
       |q AS (SELECT vec_id AS query_id, e, nn FROM n
       |  WHERE vec_id BETWEEN 100 AND 109),
       |tr AS (SELECT query_id AS di, nid AS dj FROM (
       |  SELECT q.query_id, d.vec_id AS nid,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id
       |      ORDER BY ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) DESC,
       |        d.vec_id) AS rnk
       |  FROM q JOIN n d ON d.vec_id <> q.query_id) WHERE rnk <= 3),
       |${configs.map { case (m, nc, np) =>
             ivfPqCurveBranch(m, nc, np) }.mkString(",\n")}
       |${configs.map { case (m, nc, np) =>
             ivfPqCurveSelect(m, nc, np) }.mkString("\nUNION ALL\n")}
       |ORDER BY m, n_codes, n_probe""".stripMargin

  /** One final-select branch for q_ivfpq_curve. */
  private[queries] def ivfPqCurveSelect(m: Int, nCodes: Int, nProbe: Int): String = {
    val x = s"_${m}_${nCodes}_$nProbe"
    s"""SELECT CAST($m AS INT) AS m, CAST($nCodes AS INT) AS n_codes,
       |  CAST($nProbe AS INT) AS n_probe,
       |  COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp,
       |  COALESCE(fn, 0) AS fn,
       |  CASE WHEN COALESCE(tp,0) + COALESCE(fp,0) = 0 THEN NULL
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       |  CASE WHEN COALESCE(tp,0) + COALESCE(fn,0) = 0 THEN NULL
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       |  CASE WHEN 2*COALESCE(tp,0) + COALESCE(fp,0) + COALESCE(fn,0) = 0
       |    THEN NULL
       |    ELSE CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
       |    END AS f1
       |FROM c$x""".stripMargin
  }

  /** Shared IVF-PQ residual-ADC chain (q_ivfpq_topk + q_ivfpq_recall):
    * cosine-argmax assignment to the vec_id<10 centroids, residual arrays,
    * residual-space codebooks from seeds 20–27 (m=2), nProbe=3 by largest
    * q·c, score = qc + sorted-fold residual ADC. Ends at `sc`
    * (query_id, neighbor_id, adc).
    */
  private[queries] lazy val ivfPqCtes =
    s"""$embCte,
       |cen AS (SELECT vec_id AS cid, e, nn FROM n WHERE vec_id < 10),
       |asg AS (SELECT vec_id, cluster_id FROM (
       |  SELECT d.vec_id, c.cid AS cluster_id,
       |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |      ORDER BY ${duckDot("d.e", "c.e")} / sqrt(d.nn * c.nn) DESC, c.cid) AS rn
       |  FROM n d CROSS JOIN cen c) WHERE rn = 1),
       |rv AS (SELECT n.vec_id, asg.cluster_id,
       |    list_transform(range(1, len(n.e)+1), i -> n.e[i] - c.e[i]) AS r
       |  FROM n JOIN asg ON asg.vec_id = n.vec_id
       |  JOIN cen c ON c.cid = asg.cluster_id),
       |sp AS (SELECT 0 AS sub UNION ALL SELECT 1),
       |cb AS (SELECT sp.sub, rv.vec_id AS cid,
       |    CASE WHEN sp.sub = 0 THEN r[1:32] ELSE r[33:64] END AS cvec
       |  FROM rv, sp WHERE rv.vec_id BETWEEN 20 AND 27),
       |ds AS (SELECT rv.vec_id AS id, rv.cluster_id, sp.sub,
       |    CASE WHEN sp.sub = 0 THEN r[1:32] ELSE r[33:64] END AS dv
       |  FROM rv, sp),
       |enc AS (SELECT id, cluster_id, sub, cid AS code FROM (
       |  SELECT d.id, d.cluster_id, d.sub, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY d.id, d.sub
       |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(1, len(d.dv)+1),
       |          i -> (d.dv[i]-c.cvec[i])*(d.dv[i]-c.cvec[i]))),
       |        (a, x) -> a + x) ASC, c.cid ASC) AS rn
       |  FROM ds d JOIN cb c ON c.sub = d.sub) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, e, nn FROM n
       |  WHERE vec_id BETWEEN 100 AND 109),
       |probes AS (SELECT query_id, cluster_id, qc FROM (
       |  SELECT q.query_id, c.cid AS cluster_id, ${duckDot("q.e", "c.e")} AS qc,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id
       |      ORDER BY ${duckDot("q.e", "c.e")} DESC, c.cid) AS rn
       |  FROM q CROSS JOIN cen c) WHERE rn <= 3),
       |qs AS (SELECT query_id, sp.sub,
       |    CASE WHEN sp.sub = 0 THEN e[1:32] ELSE e[33:64] END AS qv
       |  FROM q, sp),
       |lut AS (SELECT qs.query_id, qs.sub, c.cid AS code,
       |    ${duckDot("qs.qv", "c.cvec")} AS part
       |  FROM qs JOIN cb c ON c.sub = qs.sub),
       |sc AS (SELECT p.query_id, enc.id AS neighbor_id,
       |    MIN(p.qc) + list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_sort(list(part))), (a, x) -> a + x) AS adc
       |  FROM enc
       |  JOIN probes p ON p.cluster_id = enc.cluster_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.sub = enc.sub
       |    AND l.code = enc.code
       |  WHERE enc.id <> p.query_id
       |  GROUP BY p.query_id, enc.id
       |  HAVING count(*) = 2)""".stripMargin

  /** The quality-rule CTE chain over relation `src` (must provide
    * doc_id + reflowed text), ending in `qf` = per-doc metrics + the
    * integer-exact `keep` flag. Shared by qualityRulesOracle and the
    * q_curation_e2e funnel oracle, which runs the SAME chain over the
    * clone-unioned corpus.
    */
  private[queries] def qualityCtes(src: String): String =
    s"""base AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
       |    string_split(text, chr(10)) AS lines FROM $src),
       |ls AS (SELECT doc_id,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
       |    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'
       |      OR l LIKE '\u2022 %')) AS BIGINT) AS n_bullet_lines,
       |    CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%\u2026'))
       |      AS BIGINT) AS n_ellipsis_lines,
       |    CAST(length(text) - length(replace(text, '#', ''))
       |      + (length(text) - length(replace(text, '...', ''))) // 3
       |      AS BIGINT) AS n_symbols
       |  FROM base),
       |lw AS (SELECT doc_id, list_filter(string_split(l, ' '), w -> w <> '') AS wl
       |  FROM (SELECT doc_id, unnest(lines) AS l FROM base)),
       |ws AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(length(w)) AS BIGINT) AS sum_word_chars
       |  FROM (SELECT doc_id, unnest(wl) AS w FROM lw) GROUP BY doc_id),
       |bc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, wl[i] || ' ' || wl[i+1] AS g
       |        FROM (SELECT doc_id, wl, unnest(range(1, len(wl))) AS i FROM lw))
       |  GROUP BY 1, 2),
       |bt AS (SELECT doc_id, g, c FROM (SELECT doc_id, g, c,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
       |  FROM bc) WHERE rn = 1),
       |f AS (SELECT base.doc_id, n_chars, n_lines, n_dup_lines,
       |    COALESCE(n_words, 0) AS n_words,
       |    COALESCE(sum_word_chars, 0) AS sum_word_chars,
       |    COALESCE(c, 0) AS top2_n,
       |    CASE WHEN COALESCE(c, 0) > 0 THEN g END AS top2_gram,
       |    COALESCE(c, 0) * CAST(length(COALESCE(g, '')) AS BIGINT) AS top2_chars,
       |    n_symbols, n_bullet_lines, n_ellipsis_lines
       |  FROM base JOIN ls USING (doc_id) LEFT JOIN ws USING (doc_id)
       |  LEFT JOIN bt USING (doc_id)),
       |qf AS (SELECT f.*,
       |  (n_words >= 30 AND n_words <= 100000
       |    AND sum_word_chars >= n_words * 3 AND sum_word_chars <= n_words * 10
       |    AND n_symbols * 10 < n_words
       |    AND n_bullet_lines * 10 < n_lines * 9
       |    AND n_ellipsis_lines * 10 < n_lines * 3
       |    AND n_dup_lines * 10 < n_lines * 3
       |    AND top2_chars * 5 < n_chars) AS keep FROM f)""".stripMargin

  private[queries] lazy val qualityRulesOracle =
    s"""WITH d AS (SELECT doc_id, replace(text, ' line ', chr(10)) AS text
       |  FROM documents),
       |${qualityCtes("d")}
       |SELECT doc_id, n_chars, n_lines, n_dup_lines, n_words, sum_word_chars,
       |  top2_n, top2_gram, top2_chars, n_symbols, n_bullet_lines,
       |  n_ellipsis_lines,
       |  CASE WHEN n_lines > 0 THEN CAST(n_dup_lines AS DOUBLE)
       |    / CAST(n_lines AS DOUBLE) END AS dup_line_frac,
       |  CASE WHEN n_words > 0 THEN CAST(sum_word_chars AS DOUBLE)
       |    / CAST(n_words AS DOUBLE) END AS mean_word_len,
       |  CASE WHEN n_chars > 0 THEN CAST(top2_chars AS DOUBLE)
       |    / CAST(n_chars AS DOUBLE) END AS top2_char_frac,
       |  CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE)
       |    / CAST(n_words AS DOUBLE) END AS symbol_ratio,
       |  CASE WHEN n_lines > 0 THEN CAST(n_bullet_lines AS DOUBLE)
       |    / CAST(n_lines AS DOUBLE) END AS bullet_frac,
       |  CASE WHEN n_lines > 0 THEN CAST(n_ellipsis_lines AS DOUBLE)
       |    / CAST(n_lines AS DOUBLE) END AS ellipsis_frac,
       |  keep
       |FROM qf ORDER BY doc_id""".stripMargin

  private[queries] lazy val langIdOracle =
    """WITH train AS (SELECT lang, text FROM documents WHERE doc_id % 4 <> 3),
        |probe AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 4 = 3),
        |tc AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT lang, substr(text, i, 3) AS gram
        |        FROM (SELECT lang, text, unnest(range(1, length(text) - 1)) AS i
        |              FROM train))
        |  GROUP BY 1, 2),
        |prof AS (SELECT lang, gram, CAST(rnk AS BIGINT) AS rank_lang
        |  FROM (SELECT lang, gram,
        |          row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram ASC) AS rnk
        |        FROM tc) WHERE rnk <= 64),
        |pc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, substr(text, i, 3) AS gram
        |        FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i
        |              FROM probe))
        |  GROUP BY 1, 2),
        |ptop AS (SELECT doc_id, gram, CAST(rnk AS BIGINT) AS rank_doc
        |  FROM (SELECT doc_id, gram,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rnk
        |        FROM pc) WHERE rnk <= 64),
        |langs AS (SELECT DISTINCT lang FROM prof),
        |cand AS (SELECT doc_id, l.lang,
        |    CAST(sum(COALESCE(abs(rank_doc - rank_lang), 64)) AS BIGINT) AS dist
        |  FROM ptop CROSS JOIN langs l
        |  LEFT JOIN prof ON prof.lang = l.lang AND prof.gram = ptop.gram
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, lang AS lang_pred, dist
        |  FROM (SELECT doc_id, lang, dist,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY dist ASC, lang ASC) AS rn
        |        FROM cand) WHERE rn = 1)
        |SELECT b.doc_id, p.lang AS lang_true, b.lang_pred, b.dist,
        |  (p.lang = b.lang_pred) AS correct
        |FROM best b JOIN probe p USING (doc_id)
        |ORDER BY doc_id""".stripMargin

  /** Shared by q_vocab_richness AND q_stream_richness: vocabulary-level
    * counts, exact integers, three IEEE divisions — the batch aggregate
    * and the streaming count-map fold must land on the same rows.
    */
  private[queries] lazy val vocabRichnessOracle =
    """WITH c AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source AS src,
      |      unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY src, tok)
      |SELECT src AS source,
      |  CAST(sum(c) AS BIGINT) AS total_tokens,
      |  CAST(count(*) AS BIGINT) AS m_tokens,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
      |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS hapax_rate,
      |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS dis_rate
      |FROM c GROUP BY src ORDER BY source""".stripMargin

  /** Shared by q_heavy_hitters AND q_stream_topk: the exact GROUP BY +
    * HAVING over word bigrams both two-pass pipelines equal.
    */
  private[queries] lazy val heavyHittersOracle =
    """WITH t AS (SELECT tk[i] || ' ' || tk[i+1] AS item
      |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i
      |        FROM (SELECT string_split(text, ' ') AS tk
      |              FROM documents WHERE text IS NOT NULL))),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
      |SELECT item, CAST(count(*) AS BIGINT) AS cnt, s.total AS total
      |FROM t, s GROUP BY item, s.total
      |HAVING count(*) * 800 >= s.total ORDER BY item""".stripMargin

  /** Shared by q_funnel AND q_stream_funnel: the chained running-min
    * construction over (ts_µs, event_id) order — the batch answer the
    * streaming replay must reproduce bit-for-bit.
    */
  private[queries] val funnelOracle =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_ns(ts) // 1000 AS tns FROM events),
      |w1 AS (SELECT *,
      |  CASE WHEN event_type = 'view' THEN tns END AS d0 FROM e),
      |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND
      |    MIN(d0) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NOT NULL
      |  THEN tns END AS d1 FROM w1),
      |w3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND
      |    MIN(d1) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NOT NULL
      |  THEN tns END AS d2 FROM w2)
      |SELECT user_id, MIN(d0) AS t_view, MIN(d1) AS t_click,
      |  MIN(d2) AS t_purchase,
      |  CAST(CAST(MIN(d0) IS NOT NULL AS INT)
      |    + CAST(MIN(d1) IS NOT NULL AS INT)
      |    + CAST(MIN(d2) IS NOT NULL AS INT) AS INT) AS steps_completed
      |FROM w3 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** `rounds` integer power-iteration rounds unrolled — the recurrence
    * [[graft.operators.VectorOps.topComponentInt]] runs on the driver:
    * exact HUGEINT scatter n·Sxx − S Sᵀ, quantized to ≤ 2³⁰ by a
    * bit-length floor-shift, then y = C''x with x renormalized to ≤ 2²¹
    * each round by the same shift rule; deterministic sign at the end.
    * MATERIALIZED throughout — each round's CTE is referenced by the next
    * round AND by its own scalar max-subqueries.
    */
  private[queries] def pcaTopOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""y$r AS MATERIALIZED (SELECT c.i, CAST(SUM(c.c * x.x) AS BIGINT) AS y
         |  FROM cq c JOIN x${r - 1} x ON x.i = c.j GROUP BY c.i),
         |x$r AS MATERIALIZED (SELECT i,
         |  CASE WHEN (SELECT MAX(ABS(y)) FROM y$r) = 0 THEN y
         |  ELSE y // (CAST(1 AS BIGINT) <<
         |    GREATEST(length(bin((SELECT MAX(ABS(y)) FROM y$r))) - 21, 0))
         |  END AS x FROM y$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH em AS MATERIALIZED (SELECT list_transform(embedding,
       |    e -> CAST(CAST(CAST(e AS DOUBLE) AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |a AS MATERIALIZED (SELECT v, unnest(range(1, len(v)+1)) AS i FROM em),
       |b AS (SELECT i, v[i] AS xi, v, unnest(range(1, len(v)+1)) AS j FROM a),
       |sxx AS MATERIALIZED (SELECT i, j,
       |    SUM(CAST(xi AS HUGEINT) * v[j]) AS sxx FROM b GROUP BY i, j),
       |si AS MATERIALIZED (SELECT i, SUM(CAST(v[i] AS HUGEINT)) AS s,
       |    CAST(COUNT(*) AS HUGEINT) AS n FROM a GROUP BY i),
       |cf AS MATERIALIZED (SELECT x.i, x.j,
       |    (SELECT FIRST(n) FROM si) * x.sxx - s1.s * s2.s AS c
       |  FROM sxx x JOIN si s1 ON s1.i = x.i JOIN si s2 ON s2.i = x.j),
       |cq AS MATERIALIZED (SELECT i, j,
       |    CAST(c // (CAST(1 AS BIGINT) <<
       |      GREATEST(length(bin(CAST((SELECT MAX(ABS(c)) FROM cf) AS BIGINT)))
       |        - 30, 0)) AS BIGINT) AS c
       |  FROM cf),
       |x0 AS (SELECT i, CAST(1 AS BIGINT) AS x FROM si),
       |$steps,
       |pick AS (SELECT x AS pv FROM x$rounds ORDER BY ABS(x) DESC, i ASC LIMIT 1)
       |SELECT CAST(i - 1 AS INT) AS dim,
       |  CAST(CASE WHEN (SELECT pv FROM pick) < 0 THEN -x ELSE x END
       |    AS BIGINT) AS component
       |FROM x$rounds ORDER BY dim""".stripMargin
  }

  /** Shared by q_cusum AND q_stream_cusum: the prefix-sum identity
    * s_i = c_i − min(0, min_{j≤i} c_j) — two cumulative windows, NOT a
    * list_reduce fold: DuckDB 1.0's list_reduce mis-evaluates struct
    * accumulators whose lambda reads a field twice (observed alarming
    * below the threshold with prefix-length-dependent answers), and the
    * window form is the operator's own scale shape anyway.
    */
  private[queries] lazy val cusumOracle =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS o, event_id AS t0,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
      |  FROM events),
      |c AS (SELECT user_id, o, t0,
      |    CAST(SUM(v - 600000) OVER w AS BIGINT) AS c,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY o DESC, t0 DESC) AS rn_desc
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY o, t0
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (SELECT user_id, rn_desc,
      |    c - least(CAST(MIN(c) OVER (PARTITION BY user_id ORDER BY o, t0
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT),
      |      CAST(0 AS BIGINT)) AS s
      |  FROM c)
      |SELECT user_id, CAST(count(*) AS INT) AS n,
      |  CAST(MAX(CASE WHEN rn_desc = 1 THEN s END) AS BIGINT) AS cusum_final,
      |  CAST(SUM(CASE WHEN s > 2000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The persisted-window-index probe recurrence (q_window_probe /
    * q_stream_decontam): benchmark windows with ref-side df ≤ 3, joined by
    * every non-benchmark document's distinct windows.
    */
  private[queries] lazy val windowProbeOracle =
    s"""WITH wa AS (SELECT doc_id,
       |  list_transform(list_distinct(list_transform(range(1, length(text)-22),
       |    i -> substr(text, i, 24))), w -> ${duckWideHash("w")}) AS ws
       |  FROM documents WHERE length(text) >= 24 AND source <> 'src0'),
       |wb AS (SELECT doc_id,
       |  list_transform(list_distinct(list_transform(range(1, length(text)-22),
       |    i -> substr(text, i, 24))), w -> ${duckWideHash("w")}) AS ws
       |  FROM documents WHERE length(text) >= 24 AND source = 'src0'),
       |eb AS (SELECT doc_id AS doc_b, unnest(ws) AS w FROM wb),
       |bdf AS (SELECT w, count(*) AS wdf FROM eb GROUP BY w),
       |keep AS (SELECT doc_b, eb.w FROM eb JOIN bdf ON bdf.w = eb.w
       |  WHERE wdf <= 3),
       |ea AS (SELECT doc_id AS doc_a, unnest(ws) AS w FROM wa)
       |SELECT a.doc_a, k.doc_b, CAST(count(*) AS BIGINT) AS n_shared_windows
       |FROM ea a JOIN keep k ON a.w = k.w
       |WHERE a.doc_a <> k.doc_b
       |GROUP BY a.doc_a, k.doc_b ORDER BY doc_a, doc_b""".stripMargin

  /** Staged once per (sf, JVM): the src0-benchmark window index shared by
    * q_window_probe and q_stream_decontam (24-char windows, ref-side
    * boilerplate cap 3, 8 buckets at fixture scale).
    */
  private[queries] def windowIndex(s: SparkSession, dir: String): String =
    Staging.memo[String]("windowidx", dir) {
      import s.implicits._
      val nm = "graft_window_idx_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      CorpusOps.saveWindowIndex(docs(s, dir).filter($"source" === "src0"),
        "doc_id", "text", nm, n = 24, maxRefDf = Some(3), buckets = 8)
      nm
    }

  /** Co-bucketed orders/lineitem tables for q_bucket_join, staged once
    * per (sf, JVM): both sides bucket 16 ways on the order key (lineitem's
    * renamed at write time so the bucket specs align on one column name),
    * the layout that lets every later fact-fact join on that key plan
    * with ZERO Exchange (spec-pinned in ScaleJoinsSpec).
    */
  private[queries] def bucketJoinTables(
      s: SparkSession, dir: String): (String, String) =
    Staging.memo[(String, String)]("bucketjoin", dir) {
      import s.implicits._
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val ot = s"graft_bkt_orders_$tag"
      val lt = s"graft_bkt_lineitem_$tag"
      ScaleJoins.writeBucketed(
        t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority"),
        ot, Seq("o_orderkey"), 16)
      ScaleJoins.writeBucketed(
        t(s, dir, "lineitem").select($"l_orderkey".as("o_orderkey"),
          $"l_extendedprice", $"l_discount"),
        lt, Seq("o_orderkey"), 16)
      (ot, lt)
    }

  /** The q_lsh_probe / q_stream_lsh_probe shared index staging: corpus =
    * doc_id%4 ∈ {0,1} built, ingest %4 == 2 appended as TWO batches
    * (%8 == 2 then %8 == 6), then the bucketed tables are compacted
    * ([[graft.operators.ScaleJoins.compactBucketed]]) — so every probe in
    * the suite runs against a POST-COMPACTION index, pinning that
    * compaction preserves probe results. Staged once per (sf, JVM)
    * ([[Staging.memo]]); a repeat append would duplicate band rows, and
    * bench reps must measure the PROBE, not the build. Whichever gate runs
    * first builds it; the catalog is shared across cloned sessions.
    */
  private[queries] def lshProbeIndex(s: SparkSession, dir: String): String =
    Staging.memo[String]("lshprobe", dir) {
      import s.implicits._
      val d = docs(s, dir)
      val nm = "graft_lsh_probe_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      MinHashLsh.saveLshIndex(d.filter($"doc_id" % 4 <= 1), "doc_id", "text", nm,
        numHashes = 32, numBands = 8, shingleN = 3, buckets = 8)
      MinHashLsh.appendToLshIndex(s, d.filter($"doc_id" % 8 === 2), "doc_id", "text", nm)
      MinHashLsh.appendToLshIndex(s, d.filter($"doc_id" % 8 === 6), "doc_id", "text", nm)
      ScaleJoins.compactBucketed(s, s"${nm}_bands")
      ScaleJoins.compactBucketed(s, s"${nm}_sets")
      nm
    }

  /** The shared DSIR frame (q_dsir_select / q_stream_dsir): bucket-hashed
    * unigram LMs over the full corpus, integer-log₂ terms, per-doc weight
    * sums. `docFilter` restricts which docs are SCORED (never which feed
    * the LMs); `tail` is the final SELECT over the `w` CTE.
    */
  private[queries] def dsirOracle(docFilter: String, tail: String): String = {
    val h = duckHash("ds_tok")
    s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_tgt,
       |    unnest(string_split(text, ' ')) AS ds_tok
       |  FROM documents WHERE text IS NOT NULL AND text <> ''),
       |tb AS (SELECT $h % 512 AS b,
       |    CAST(count(*) AS BIGINT) AS cr,
       |    CAST(count(*) FILTER (WHERE is_tgt) AS BIGINT) AS ct
       |  FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS r,
       |    CAST(SUM(ct) AS BIGINT) AS t FROM tb),
       |term AS (SELECT b,
       |    CAST(length(bin(ct + 1)) - length(bin(cr + 1)) AS BIGINT) AS trm
       |  FROM tb),
       |w AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(trm) + count(*) *
       |      (length(bin(r + 512)) - length(bin(t + 512))) AS BIGINT) AS weight
       |  FROM tok JOIN term ON ($h % 512) = term.b CROSS JOIN tot
       |  $docFilter
       |  GROUP BY doc_id, r, t)
       |$tail""".stripMargin
  }

  /** DuckDB twin of [[TextOps.polyHash]] (left fold, 64-bit, mod 1e9+7). */
  private[queries] def duckHash(s: String, base: Int = 31): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($s)+1), i -> CAST(ascii(substr($s, i, 1)) AS BIGINT))), " +
      s"(acc, c) -> (acc * $base + c) % 1000000007)"

  /** DuckDB twin of [[TextOps.wideHash]] (60 informative bits). */
  private[queries] def duckWideHash(s: String): String =
    s"(${duckHash(s)} + ${duckHash(s, 131)} * 1073741824)"

  /** DuckDB twin of [[VectorOps]]' strict left-fold dot product. */
  private[queries] def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])), (acc, x) -> acc + x)"

  /** Shared embeddings CTE: doubles + precomputed squared norms. */
  private[queries] val embCte =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e FROM embeddings),
       |n AS (SELECT vec_id, e, ${duckDot("e", "e")} AS nn FROM v)""".stripMargin

  /** The full TRAINED-codebook IVF-PQ chain (q_ivfpq_trained +
    * q_ivfpq_refresh): residuals against the vec_id<10 centroids, m=4
    * seed codebooks from ids 20–27 quantized to the e4 grid (cb0), TWO
    * unrolled integer-Lloyd rounds (cb1, cb2), trained-codebook encode of
    * the whole corpus (enc_t), probes/LUT, and the residual-ADC score
    * sc_t (query_id, neighbor_id, adc). Also carries the seed-tier chain
    * (sc_s) and the pair-set PRF counts (c_s / c_t) the trained gate
    * reports — consumers that reference only sc_t leave those subtrees
    * unexecuted (CTE pruning).
    */
  private[queries] lazy val ivfPqTrainedCtes: String =
    s"""$embCte,
         |cen AS (SELECT vec_id AS cid, e, nn FROM n WHERE vec_id < 10),
         |asg AS (SELECT vec_id, cluster_id FROM (
         |  SELECT d.vec_id, c.cid AS cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
         |      ORDER BY ${duckDot("d.e", "c.e")} / sqrt(d.nn * c.nn) DESC, c.cid) AS rn
         |  FROM n d CROSS JOIN cen c) WHERE rn = 1),
         |rv AS (SELECT n.vec_id, asg.cluster_id,
         |    list_transform(range(1, len(n.e)+1), i -> n.e[i] - c.e[i]) AS r
         |  FROM n JOIN asg ON asg.vec_id = n.vec_id
         |  JOIN cen c ON c.cid = asg.cluster_id),
         |q AS (SELECT vec_id AS query_id, e, nn FROM n
         |  WHERE vec_id BETWEEN 100 AND 109),
         |tr AS (SELECT query_id AS di, nid AS dj FROM (
         |  SELECT q.query_id, d.vec_id AS nid,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${duckDot("q.e", "d.e")} / sqrt(q.nn * d.nn) DESC,
         |        d.vec_id) AS rnk
         |  FROM q JOIN n d ON d.vec_id <> q.query_id) WHERE rnk <= 3),
         |sp AS (SELECT 0 AS sub UNION ALL SELECT 1
         |  UNION ALL SELECT 2 UNION ALL SELECT 3),
         |rq AS (SELECT rv.vec_id AS id, sp.sub,
         |    list_transform(CASE WHEN sp.sub = 0 THEN r[1:16]
         |      WHEN sp.sub = 1 THEN r[17:32]
         |      WHEN sp.sub = 2 THEN r[33:48] ELSE r[49:64] END,
         |      x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT)) AS qv
         |  FROM rv, sp),
         |cb0 AS (SELECT sub, id AS cid, qv AS qc FROM rq
         |  WHERE id BETWEEN 20 AND 27),
         |asg1 AS (SELECT sub, cid, qv FROM (
         |  SELECT d.sub, c.cid, d.qv,
         |    ROW_NUMBER() OVER (PARTITION BY d.id, d.sub
         |      ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, 17),
         |          i -> (d.qv[i]-c.qc[i])*(d.qv[i]-c.qc[i]))),
         |        (a, x) -> a + x) ASC, c.cid ASC) AS rn
         |  FROM rq d JOIN cb0 c ON c.sub = d.sub) WHERE rn = 1),
         |up1 AS (SELECT sub, cid, i AS pos,
         |    CAST(floor(CAST(SUM(qv[i]) AS DOUBLE) /
         |      CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS qc1
         |  FROM asg1, range(1, 17) t(i) GROUP BY sub, cid, i),
         |cb1 AS (SELECT c0.sub, c0.cid, COALESCE(u.qc, c0.qc) AS qc
         |  FROM cb0 c0 LEFT JOIN (SELECT sub, cid, list(qc1 ORDER BY pos) AS qc
         |      FROM up1 GROUP BY sub, cid) u
         |    ON u.sub = c0.sub AND u.cid = c0.cid),
         |asg2 AS (SELECT sub, cid, qv FROM (
         |  SELECT d.sub, c.cid, d.qv,
         |    ROW_NUMBER() OVER (PARTITION BY d.id, d.sub
         |      ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, 17),
         |          i -> (d.qv[i]-c.qc[i])*(d.qv[i]-c.qc[i]))),
         |        (a, x) -> a + x) ASC, c.cid ASC) AS rn
         |  FROM rq d JOIN cb1 c ON c.sub = d.sub) WHERE rn = 1),
         |up2 AS (SELECT sub, cid, i AS pos,
         |    CAST(floor(CAST(SUM(qv[i]) AS DOUBLE) /
         |      CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS qc1
         |  FROM asg2, range(1, 17) t(i) GROUP BY sub, cid, i),
         |cb2 AS (SELECT c1.sub, c1.cid, COALESCE(u.qc, c1.qc) AS qc
         |  FROM cb1 c1 LEFT JOIN (SELECT sub, cid, list(qc1 ORDER BY pos) AS qc
         |      FROM up2 GROUP BY sub, cid) u
         |    ON u.sub = c1.sub AND u.cid = c1.cid),
         |cbf_s AS (SELECT sub, cid,
         |    list_transform(qc, x -> CAST(x AS DOUBLE) / 10000.0) AS cvec
         |  FROM cb0),
         |cbf_t AS (SELECT sub, cid,
         |    list_transform(qc, x -> CAST(x AS DOUBLE) / 10000.0) AS cvec
         |  FROM cb2),
         |ds AS (SELECT rv.vec_id AS id, rv.cluster_id, sp.sub,
         |    CASE WHEN sp.sub = 0 THEN r[1:16]
         |      WHEN sp.sub = 1 THEN r[17:32]
         |      WHEN sp.sub = 2 THEN r[33:48] ELSE r[49:64] END AS dv
         |  FROM rv, sp),
         |probes AS (SELECT query_id, cluster_id, qc FROM (
         |  SELECT q.query_id, c.cid AS cluster_id, ${duckDot("q.e", "c.e")} AS qc,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${duckDot("q.e", "c.e")} DESC, c.cid) AS rn
         |  FROM q CROSS JOIN cen c) WHERE rn <= 3),
         |qs AS (SELECT query_id, sp.sub,
         |    CASE WHEN sp.sub = 0 THEN e[1:16]
         |      WHEN sp.sub = 1 THEN e[17:32]
         |      WHEN sp.sub = 2 THEN e[33:48] ELSE e[49:64] END AS qv
         |  FROM q, sp),
         |enc_s AS (SELECT id, cluster_id, sub, cid AS code FROM (
         |  SELECT d.id, d.cluster_id, d.sub, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY d.id, d.sub
         |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(range(1, len(d.dv)+1),
         |          i -> (d.dv[i]-c.cvec[i])*(d.dv[i]-c.cvec[i]))),
         |        (a, x) -> a + x) ASC, c.cid ASC) AS rn
         |  FROM ds d JOIN cbf_s c ON c.sub = d.sub) WHERE rn = 1),
         |lut_s AS (SELECT qs.query_id, qs.sub, c.cid AS code,
         |    ${duckDot("qs.qv", "c.cvec")} AS part
         |  FROM qs JOIN cbf_s c ON c.sub = qs.sub),
         |sc_s AS (SELECT p.query_id, enc.id AS neighbor_id,
         |    MIN(p.qc) + list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_sort(list(part))), (a, x) -> a + x) AS adc
         |  FROM enc_s enc
         |  JOIN probes p ON p.cluster_id = enc.cluster_id
         |  JOIN lut_s l ON l.query_id = p.query_id AND l.sub = enc.sub
         |    AND l.code = enc.code
         |  WHERE enc.id <> p.query_id
         |  GROUP BY p.query_id, enc.id
         |  HAVING count(*) = 4),
         |pred_s AS (SELECT query_id AS di, neighbor_id AS dj FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
         |  FROM sc_s) WHERE rnk <= 3),
         |c_s AS (SELECT CAST(SUM(inp * intr) AS BIGINT) AS tp,
         |    CAST(SUM(inp * (1 - intr)) AS BIGINT) AS fp,
         |    CAST(SUM((1 - inp) * intr) AS BIGINT) AS fn
         |  FROM (SELECT
         |      CASE WHEN p.di IS NOT NULL THEN 1 ELSE 0 END AS inp,
         |      CASE WHEN t.di IS NOT NULL THEN 1 ELSE 0 END AS intr
         |    FROM pred_s p FULL JOIN tr t ON p.di = t.di AND p.dj = t.dj)),
         |enc_t AS (SELECT id, cluster_id, sub, cid AS code FROM (
         |  SELECT d.id, d.cluster_id, d.sub, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY d.id, d.sub
         |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(range(1, len(d.dv)+1),
         |          i -> (d.dv[i]-c.cvec[i])*(d.dv[i]-c.cvec[i]))),
         |        (a, x) -> a + x) ASC, c.cid ASC) AS rn
         |  FROM ds d JOIN cbf_t c ON c.sub = d.sub) WHERE rn = 1),
         |lut_t AS (SELECT qs.query_id, qs.sub, c.cid AS code,
         |    ${duckDot("qs.qv", "c.cvec")} AS part
         |  FROM qs JOIN cbf_t c ON c.sub = qs.sub),
         |sc_t AS (SELECT p.query_id, enc.id AS neighbor_id,
         |    MIN(p.qc) + list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_sort(list(part))), (a, x) -> a + x) AS adc
         |  FROM enc_t enc
         |  JOIN probes p ON p.cluster_id = enc.cluster_id
         |  JOIN lut_t l ON l.query_id = p.query_id AND l.sub = enc.sub
         |    AND l.code = enc.code
         |  WHERE enc.id <> p.query_id
         |  GROUP BY p.query_id, enc.id
         |  HAVING count(*) = 4),
         |pred_t AS (SELECT query_id AS di, neighbor_id AS dj FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rnk
         |  FROM sc_t) WHERE rnk <= 3),
         |c_t AS (SELECT CAST(SUM(inp * intr) AS BIGINT) AS tp,
         |    CAST(SUM(inp * (1 - intr)) AS BIGINT) AS fp,
         |    CAST(SUM((1 - inp) * intr) AS BIGINT) AS fn
         |  FROM (SELECT
         |      CASE WHEN p.di IS NOT NULL THEN 1 ELSE 0 END AS inp,
         |      CASE WHEN t.di IS NOT NULL THEN 1 ELSE 0 END AS intr
         |    FROM pred_t p FULL JOIN tr t ON p.di = t.di AND p.dj = t.dj))""".stripMargin

  /** The from-scratch connected-components oracle shared by
    * q_cc_incremental and q_stream_components: SimHash near-dup pairs →
    * symmetric edge closure → recursive-CTE min-label reachability.
    */
  private[queries] lazy val ccFromScratchOracle: String =
    s"""WITH RECURSIVE tk AS (SELECT doc_id,
       |  list_transform(string_split(text, ' '), tok -> ${duckWideHash("tok")}) AS th
       |  FROM documents
       |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
       |t AS (SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0, 60), b ->
       |    CASE WHEN list_sum(list_transform(th, h ->
       |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
       |  FROM tk),
       |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.s, b.s)) <= 3),
       |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v),
       |comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
       |SELECT node AS doc_id, cluster_id,
       |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM comp ORDER BY doc_id""".stripMargin

  /** Shared by q_sessionize AND q_stream_sessionize: the stateful streaming
    * sessionizer is gated against the batch oracle — that equality is the
    * entire point of the gate.
    */
  private[queries] val sessionizeOracle =
    """WITH e AS (SELECT user_id, event_id, event_type, value, ts,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
      |l AS (SELECT *,
      |  lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
      |f AS (SELECT *, CASE WHEN prev IS NULL OR ep - prev > 21600 THEN 1 ELSE 0 END AS new_s FROM l),
      |x AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM f)
      |SELECT user_id, session_idx,
      |  min(ep) AS start_epoch, max(ep) AS end_epoch,
      |  count(*) AS n_events,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM x GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  private[queries] val langScoreSql = TextStats.LangProfiles.map { case (lang, m) =>
    val in = m.map(w => s"'$w'").mkString(", ")
    lang -> s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($in))) AS BIGINT)"
  }

  /** The k-anonymity / l-diversity oracle, shared by q_k_anonymity
    * (batch) and q_stream_k_anonymity (streamed per-QI-group sensitive
    * count maps through
    * [[graft.operators.GovernanceOps.anonymityRiskFromCounts]]).
    */
  private[queries] lazy val kAnonymityOracle: String =
    """WITH e AS (SELECT event_type,
      |    epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(floor(value / 100.0) AS BIGINT) AS vb, user_id FROM events),
      |g AS (SELECT event_type, day, vb,
      |    CAST(count(*) AS BIGINT) AS group_size,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
      |  FROM e GROUP BY 1, 2, 3)
      |SELECT event_type, day, vb, group_size, n_sensitive,
      |  CAST(group_size < 5 AS INT) AS k_risk,
      |  CAST(n_sensitive < 3 AS INT) AS l_risk
      |FROM g WHERE group_size < 5 OR n_sensitive < 3
      |ORDER BY event_type, day, vb""".stripMargin

  /** The per-class PRF oracle, shared by q_class_prf (batch) and
    * q_stream_class_prf (the SAME joint-label count-map emission that
    * feeds the kappa twin, closed by
    * [[graft.operators.EvalOps.classPrfFromCounts]]).
    */
  private[queries] lazy val classPrfOracle: String = {
    val scores = langScoreSql.map { case (lang, sql) => s"$sql AS s_$lang" }
      .mkString(",\n      |    ").stripMargin
    val langs = langScoreSql.map(_._1)
    val caseChain = langs.init.map { lang =>
      val conds = langs.filterNot(_ == lang).map(o => s"s_$lang >= s_$o")
        .mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"""WITH sc AS (SELECT lang,
       |    $scores
       |  FROM documents),
       |d AS (SELECT lang AS gold,
       |    CASE $caseChain ELSE '${langs.last}' END AS pred FROM sc),
       |g AS (SELECT gold AS cls, CAST(count(*) AS BIGINT) AS n_gold
       |  FROM d GROUP BY 1),
       |p AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS n_pred
       |  FROM d GROUP BY 1),
       |t AS (SELECT gold AS cls, CAST(count(*) AS BIGINT) AS tp
       |  FROM d WHERE gold = pred GROUP BY 1),
       |pc AS (SELECT COALESCE(g.cls, p.cls) AS cls,
       |    COALESCE(n_gold, 0) AS n_gold, COALESCE(n_pred, 0) AS n_pred
       |  FROM g FULL JOIN p ON g.cls = p.cls),
       |pc2 AS (SELECT pc.cls, n_gold, n_pred, COALESCE(tp, 0) AS tp
       |  FROM pc LEFT JOIN t ON pc.cls = t.cls),
       |f AS (SELECT cls, n_gold, n_pred, tp,
       |    CASE WHEN n_pred = 0 THEN NULL
       |      ELSE CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS precision,
       |    CASE WHEN n_gold = 0 THEN NULL
       |      ELSE CAST(tp AS DOUBLE) / CAST(n_gold AS DOUBLE) END AS recall,
       |    CASE WHEN n_gold + n_pred = 0 THEN NULL
       |      ELSE CAST(2*tp AS DOUBLE) / CAST(n_gold + n_pred AS DOUBLE)
       |      END AS f1
       |  FROM pc2)
       |SELECT cls, n_gold, n_pred, tp, precision, recall, f1 FROM f
       |UNION ALL
       |SELECT '__macro__', NULL, NULL, NULL, NULL, NULL,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(COALESCE(f1, 0.0) ORDER BY cls)), (acc, x) -> acc + x)
       |    / CAST(count(*) AS DOUBLE)
       |FROM f ORDER BY cls""".stripMargin
  }

  /** The Cohen's-kappa oracle, shared by q_cohens_kappa (batch) and
    * q_stream_cohens_kappa (streamed per-source joint (pred, gold) label
    * counts through [[graft.operators.EvalOps.cohensKappaFromCounts]] —
    * the stream reconstructs the exact predicted-lang strings from the
    * profile index so the joint cells match the batch operator's).
    */
  private[queries] lazy val cohensKappaOracle: String = {
    val scores = langScoreSql.map { case (lang, sql) => s"$sql AS s_$lang" }
      .mkString(",\n      |    ").stripMargin
    val langs = langScoreSql.map(_._1)
    val caseChain = langs.init.map { lang =>
      val conds = langs.filterNot(_ == lang).map(o => s"s_$lang >= s_$o")
        .mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"""WITH sc AS (SELECT source, lang,
       |    $scores
       |  FROM documents),
       |d AS (SELECT source,
       |    CASE $caseChain ELSE '${langs.last}' END AS ra, lang AS rb
       |  FROM sc),
       |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(*) FILTER (ra = rb) AS BIGINT) AS n_agree
       |  FROM d GROUP BY source),
       |ma AS (SELECT source, ra AS lab, CAST(count(*) AS BIGINT) AS ca
       |  FROM d GROUP BY source, ra),
       |mb AS (SELECT source, rb AS lab, CAST(count(*) AS BIGINT) AS cb
       |  FROM d GROUP BY source, rb),
       |pe AS (SELECT source, CAST(sum(ca * cb) AS BIGINT) AS pe_num
       |  FROM ma JOIN mb USING (source, lab) GROUP BY source)
       |SELECT a.source, n, n_agree,
       |  COALESCE(pe_num, 0) AS pe_num,
       |  CAST(n * n_agree - COALESCE(pe_num, 0) AS BIGINT) AS kappa_num,
       |  CAST(n * n - COALESCE(pe_num, 0) AS BIGINT) AS kappa_den,
       |  CASE WHEN n * n - COALESCE(pe_num, 0) = 0 THEN NULL
       |    ELSE CAST(n * n_agree - COALESCE(pe_num, 0) AS DOUBLE)
       |      / CAST(n * n - COALESCE(pe_num, 0) AS DOUBLE) END AS kappa
       |FROM a LEFT JOIN pe USING (source) ORDER BY source""".stripMargin
  }

  /** Unrolled k-iteration BPE trainer in DuckDB SQL: each iteration is a
    * (pair-count, argmax, fold) CTE triple chained off the previous vocab.
    * The fold replicates [[graft.operators.CorpusOps.learnBpeMerges]]'s
    * greedy left-to-right non-overlapping merge exactly — `list_reduce`
    * over singleton-wrapped symbols (the first element is the fold's
    * initial accumulator, matching the Spark `aggregate`'s `slice(1,1)`
    * init). Last-element access and drop-last are spelled with EXPLICIT
    * 1-based positive bounds (`acc[len(acc)]`, `acc[1:len(acc)-1]`) —
    * negative subscripts/slices lean on DuckDB's inclusive-negative
    * convention, a version-sensitive construct family (round-9 audit).
    * Argmax tiebreak (freq DESC, lft, rgt) is a binary string compare in
    * both engines.
    */
  private[queries] def bpeChain(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT s.pair[1] AS lft, s.pair[2] AS rgt, SUM(wc) AS freq
         |  FROM v${i - 1}, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS s(pair)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2),
         |m$i AS (SELECT lft, rgt, freq FROM p$i ORDER BY freq DESC, lft, rgt LIMIT 1),
         |v$i AS (
         |  SELECT word, CASE WHEN len(syms) < 2 THEN syms ELSE
         |    list_reduce(list_transform(syms, x -> [x]),
         |      (acc, x) -> CASE WHEN acc[len(acc)] = m$i.lft AND x[1] = m$i.rgt
         |                  THEN acc[1:len(acc)-1] || [m$i.lft || m$i.rgt] ELSE acc || x END)
         |    END AS syms, wc
         |  FROM v${i - 1} CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (
       |  SELECT x.w AS word, COUNT(*) AS wc
       |  FROM documents, unnest(string_split(text, ' ')) AS x(w)
       |  WHERE length(x.w) > 0 GROUP BY 1),
       |v0 AS (SELECT word, string_split(word, '') AS syms, wc FROM w),
       |$iters""".stripMargin
  }

  private[queries] def bpeOracle(k: Int): String = {
    val sel = (1 to k).map(i =>
      s"SELECT $i AS rank, lft, rgt, CAST(freq AS BIGINT) AS freq FROM m$i")
      .mkString("\nUNION ALL\n")
    s"""${bpeChain(k)}
       |SELECT * FROM (
       |$sel) ORDER BY rank""".stripMargin
  }

  /** The encoder twin: the chain's final vocab state, exploded to scalar
    * (word, wc, pos, piece) rows — DuckDB's 1-based subscripts shifted to
    * posexplode's 0-based pos.
    */
  private[queries] def bpeSegmentOracle(k: Int): String =
    s"""${bpeChain(k)}
       |SELECT word, CAST(wc AS BIGINT) AS wc,
       |  CAST(generate_subscripts(syms, 1) - 1 AS INT) AS pos,
       |  unnest(syms) AS piece
       |FROM v$k ORDER BY word, pos""".stripMargin

  /** Shared CTE prefix for the graph-traversal oracles: the consecutive-
    * order customer graph symmetrized to a directed edge list `e(u, v)`
    * (both directions of every distinct non-loop pair — the exact
    * normalization [[graft.operators.GraphOps]] applies).
    */
  private[queries] val symGraphCtes =
    """raw AS (SELECT a.o_custkey AS s, b.o_custkey AS d
      |  FROM orders a JOIN orders b ON a.o_orderkey + 1 = b.o_orderkey),
      |p AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
      |  FROM raw WHERE s <> d),
      |e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p)""".stripMargin

  /** `rounds` peeling rounds unrolled: a{i} = nodes of degree ≥ k in
    * c{i-1}, c{i} = c{i-1} restricted to edges with BOTH endpoints in
    * a{i} — the fixpoint [[graft.operators.GraphOps.kCore]] iterates.
    * Rounds past the fixpoint are no-ops, so any depth ≥ the true
    * convergence depth yields the exact core (the Spark gate pins that
    * bound via maxRounds).
    */
  private[queries] def kCoreOracle(k: Int, rounds: Int): String = {
    // MATERIALIZED is load-bearing: c{i} references c{i-1} three times
    // (the edge set and both endpoint filters), so DuckDB's default CTE
    // inlining re-expands the chain 3^rounds times — at depth 8 that is
    // thousands of re-scans of orders.parquet (observed as a
    // too-many-open-files failure), where materialization is 8 linear
    // passes.
    val steps = (1 to rounds).map(i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT u FROM c${i - 1} GROUP BY u HAVING count(*) >= $k),
         |c$i AS MATERIALIZED (SELECT t.u, t.v FROM c${i - 1} t
         |  JOIN a$i x ON t.u = x.u JOIN a$i y ON t.v = y.u)""".stripMargin)
      .mkString(",\n")
    s"""WITH $symGraphCtes,
       |c0 AS MATERIALIZED (SELECT u, v FROM e),
       |$steps
       |SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM c$rounds
       |GROUP BY u ORDER BY node""".stripMargin
  }

  /** k rounds of BFS relaxation unrolled: d{i} = node-keyed MIN over
    * d{i-1} ∪ (d{i-1} ⋈ e with dist+1) — the same recurrence
    * [[graft.operators.GraphOps.bfsDistances]] iterates.
    */
  private[queries] def bfsOracle(k: Int): String = {
    val steps = (1 to k).map(i =>
      s"""d$i AS (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT node, dist FROM d${i - 1} UNION ALL
         |  SELECT e.v, d.dist + 1 FROM d${i - 1} d JOIN e ON e.u = d.node)
         |  GROUP BY node)""".stripMargin).mkString(",\n")
    s"""WITH $symGraphCtes,
       |d0 AS (SELECT DISTINCT o_custkey AS node, 0 AS dist FROM orders
       |  WHERE o_custkey % 50 = 0),
       |$steps
       |SELECT node, CAST(dist AS INT) AS dist FROM d$k ORDER BY node""".stripMargin
  }

  /** k rounds of the integer PageRank recurrence unrolled. DuckDB's
    * SUM(BIGINT) widens to HUGEINT — the outer CAST brings each round's
    * rank back to BIGINT; `//` on positive BIGINTs floors exactly like
    * Spark's `div`.
    */
  private[queries] def pageRankOracle(k: Int): String = {
    val steps = (1 to k).map(i =>
      s"""p$i AS (SELECT e.v AS node,
         |  CAST(150000000000 + SUM((p.pr * 17) // (20 * d.deg)) AS BIGINT) AS pr
         |  FROM p${i - 1} p JOIN deg d ON d.u = p.node JOIN e ON e.u = p.node
         |  GROUP BY e.v)""".stripMargin).mkString(",\n")
    s"""WITH $symGraphCtes,
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u),
       |p0 AS (SELECT u AS node, CAST(1000000000000 AS BIGINT) AS pr FROM deg),
       |$steps
       |SELECT node, pr FROM p$k ORDER BY node""".stripMargin
  }

  /** k rounds of the PERSONALIZED integer PageRank recurrence unrolled:
    * identical arithmetic to [[pageRankOracle]], with both the initial
    * mass and each round's restart term gated on the seed predicate
    * (custkey % 50 = 0 — the q_bfs_reach seed set).
    */
  private[queries] def pprOracle(k: Int): String = {
    val steps = (1 to k).map(i =>
      s"""p$i AS (SELECT e.v AS node,
         |  CAST(CASE WHEN e.v % 50 = 0 THEN 150000000000 ELSE 0 END
         |    + SUM((p.pr * 17) // (20 * d.deg)) AS BIGINT) AS pr
         |  FROM p${i - 1} p JOIN deg d ON d.u = p.node JOIN e ON e.u = p.node
         |  GROUP BY e.v)""".stripMargin).mkString(",\n")
    s"""WITH $symGraphCtes,
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u),
       |p0 AS (SELECT u AS node,
       |  CAST(CASE WHEN u % 50 = 0 THEN 1000000000000 ELSE 0 END AS BIGINT) AS pr
       |  FROM deg),
       |$steps
       |SELECT node, pr FROM p$k ORDER BY node""".stripMargin
  }

  /** k rounds of synchronous majority-vote label propagation unrolled:
    * each round counts neighbor labels and keeps the (max count, min
    * label) winner per node via a rank window — the same argmax
    * [[graft.operators.GraphOps.labelPropagation]] computes with a
    * struct-max aggregate.
    */
  private[queries] def labelPropOracle(k: Int): String = {
    val steps = (1 to k).map(i =>
      s"""c$i AS (SELECT e.u AS node, l.lbl, count(*) AS cnt
         |  FROM e JOIN l${i - 1} l ON l.node = e.v GROUP BY 1, 2),
         |l$i AS (SELECT node, lbl FROM (
         |  SELECT node, lbl, row_number() OVER (
         |    PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn FROM c$i)
         |  WHERE rn = 1)""".stripMargin).mkString(",\n")
    s"""WITH $symGraphCtes,
       |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e),
       |$steps
       |SELECT node, lbl AS community,
       |  CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
       |FROM l$k ORDER BY node""".stripMargin
  }

}
