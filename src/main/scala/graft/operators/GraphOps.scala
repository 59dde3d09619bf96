package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.meta.Ckpt.Syntax

/** Connected components over an undirected edge list — the cluster-resolution
  * step every pairwise near-dup stage needs downstream: dedup pairs (MinHash,
  * SimHash, n-gram Jaccard, SRP — any of this library's generators) form a
  * graph whose components are the duplicate CLUSTERS, and the canonical "keep
  * one per cluster" decision needs each node labeled with its component.
  * The reference has no analog (its scope ends at the loader); this is part
  * of the LLM-pipeline extension surface.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce and
  * Beyond", SoCC'14). Each round is a constant number of hash-shuffles keyed
  * on node id, and the edge set converges to one star per component rooted
  * at the component's minimum id in O(log² n) rounds (O(log n) observed).
  *
  * Scale posture (100 TB): the driver never sees more than the capped
  * endgame (`localFinishMaxEdges`, ~2 MB at the default) — every
  * contraction step is an aggregate or join on slim (LONG, LONG) rows
  * keyed by node id, and the endgame only engages once the shrinking
  * state fits the cap.
  * High-degree hubs are exactly what large-star is FOR: it hangs a hub's
  * larger neighbors off the component minimum, splitting the hub's star
  * across keys instead of funneling the component through one reducer. The
  * iteration state is checkpointed each round (the kmeans pattern,
  * [[VectorOps.kmeans]]) so lineage — and with it, plan size and scheduler
  * overhead — stays constant across rounds; convergence is decided by a
  * one-action structural check on the checkpointed edges (see the stopping
  * rule in the body), never by driver-side collection.
  */
object GraphOps {

  /** Label every node of the `edges` graph with its connected component,
    * identified by the component's minimum node id.
    *
    * Nodes are the ids appearing in `edges` (isolated nodes never reach a
    * pairwise stage, so they have no row here — callers wanting singleton
    * clusters can union them in as self-labeled rows). Self-loops and
    * duplicate/reversed edges are tolerated and ignored.
    *
    * @param edges  one row per (possibly repeated) undirected edge
    * @param srcCol endpoint column, integral type (casts losslessly to LONG)
    * @param dstCol endpoint column, integral type
    * @param maxIter hard ceiling on star rounds; convergence is O(log² n)
    *                with n edges, so the default 50 covers any input that
    *                fits on hardware. Non-convergence throws rather than
    *                returning a partial labeling.
    * @param localFinishMaxEdges LOCAL-ENDGAME cap: when the (deduplicated,
    *                checkpointed) edge state is at most this many rows, the
    *                remaining contraction runs as driver-side union-find
    *                instead of more star rounds — each distributed round
    *                costs a fixed handful of shuffle stages regardless of
    *                data size, so on a small (or round-by-round shrinking)
    *                graph the scheduling latency dominates the arithmetic
    *                by orders of magnitude. The collect is bounded by
    *                contract (≤ 16 bytes · cap ≈ 2 MB at the default) and
    *                the labeling is identical: star rounds preserve the
    *                component partition, and min-root union-find computes
    *                the same component-minimum labels (property-tested
    *                against the distributed path in GraphOpsSpec). 0
    *                disables the endgame (pure distributed iteration).
    * @return columns: node LONG, component LONG (= min node id reachable)
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 50,
      localFinishMaxEdges: Int = 1 << 17): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    val integral = Set("tinyint", "smallint", "int", "bigint")
    for (c <- Seq(srcCol, dstCol))
      require(integral(edges.schema(c).dataType.simpleString),
        s"connectedComponents needs integral node ids, got " +
          s"${edges.schema(c).dataType.catalogString} for '$c'")

    // Large-star: every node hands its LARGER neighbors to the minimum of
    // its closed neighborhood. Shrinks long chains and splits hub stars.
    // No dedup here — small-star's round-final distinct absorbs the bounded
    // duplication, saving a shuffle per round.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // Small-star: every node hands its SMALLER-or-equal neighbors (and
    // itself) to the minimum among them. Flattens the shrunken chains.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(mins, "u").select(col("v").as("n"), col("m"))
        .union(mins.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }

    // Stopping rule: the answer state is a union of DISJOINT MIN-ROOTED
    // STARS, and that shape is directly checkable — every source node
    // appears exactly once and never as a target, AND every edge points
    // larger → smaller. The orientation term matters for the ROUND-0
    // state only: star rounds direct edges at minima by construction
    // (SoCC'14 §3 — small-star only emits larger → smaller), but the RAW
    // INPUT can be disjoint-star-shaped with edges pointing small → large
    // (a single edge (1, 2); a star (1,2),(3,2)) — structurally clean yet
    // rooted at a NON-minimum, which the pre-fix check accepted and
    // mislabeled (caught by the incrementalComponents spec, r14). It is
    // also sufficient: both star operations preserve the node set and the
    // component partition, so a disjoint min-rooted star set has one star
    // per ORIGINAL component rooted at its minimum. Checking costs ONE
    // single-shuffle action per round (tag each endpoint role, one
    // combiner-reduced aggregate per node) — unlike fixpoint detection,
    // which needs set-equality (two anti-joins) per operation. The same
    // aggregate also returns the state's edge COUNT (Σ nsrc), so the
    // endgame size gate rides the convergence check for free instead of
    // costing a second action.
    def stateCheck(s: DataFrame): (Long, Long) = {
      val row = s.select(col("u").as("n"), lit(1L).as("nsrc"), lit(0L).as("ndst"),
          when(col("u") < col("v"), 1L).otherwise(0L).as("nmis"))
        .union(s.select(col("v").as("n"), lit(0L).as("nsrc"), lit(1L).as("ndst"),
          lit(0L).as("nmis")))
        .groupBy("n").agg(sum("nsrc").as("nsrc"), sum("ndst").as("ndst"),
          sum("nmis").as("nmis"))
        .agg(
          (sum(when(col("nsrc") > 1 || (col("nsrc") > 0 && col("ndst") > 0), 1L)
            .otherwise(0L)) + sum(col("nmis"))).as("nviol"),
          sum(col("nsrc")).as("nedges"))
        .head()
      (if (row.isNullAt(0)) 0L else row.getLong(0),
        if (row.isNullAt(1)) 0L else row.getLong(1))
    }

    // Driver-side min-root union-find over the current (component-
    // equivalent) state — the endgame once the graph is under the cap.
    def localFinish(s: DataFrame): DataFrame = {
      val es = s.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      for ((a, b) <- es) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toArray.distinct
      val spark = s.sparkSession
      import spark.implicits._
      nodes.toSeq.map(n => (n, find(n))).toDF("node", "component")
    }

    // LAZY checkpoint throughout: the convergence check that
    // immediately follows each checkpoint is the action that materializes
    // it, so every round costs ONE job (check + persist fused), not two
    // (eager persist, then check). The truncated-lineage guarantee is
    // identical — later rounds read the persisted partitions either way.
    var e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .ckptLazy
    var rounds = 0
    var result: Option[DataFrame] = None
    while (result.isEmpty) {
      val (nViol, nEdges) = stateCheck(e)
      if (nViol == 0L)
        // Converged state is one star per component: an edge (v, m) for
        // every non-root member v, all pointing at the component minimum m.
        // Roots label themselves.
        result = Some(
          e.select(col("u").as("node"), col("v").as("component"))
            .union(e.select(col("v"), col("v")).distinct()
              .toDF("node", "component")))
      else if (localFinishMaxEdges > 0 && nEdges <= localFinishMaxEdges)
        result = Some(localFinish(e))
      else if (rounds >= maxIter)
        throw new IllegalStateException(
          s"connectedComponents did not converge within maxIter=$maxIter rounds")
      else {
        // One checkpoint per round: the large-star intermediate stays lazy
        // inside the round's plan — two star ops are a handful of shuffles,
        // not worth a second materialization barrier.
        e = smallStar(largeStar(e)).ckptLazy
        rounds += 1
      }
    }
    result.get
  }

  /** Exact global triangle count via DEGREE-ORDERED edge orientation (the
    * MapReduce-triangles construction of Suri & Vassilvitskii, WWW'11 /
    * Cohen '09): orient every undirected edge from its lower-(degree, id)
    * endpoint to the higher, enumerate wedges only at each edge's SOURCE,
    * and close them against the oriented edge set. Each triangle is counted
    * exactly once — at its minimum-rank vertex — so no /3 correction or
    * dedup stage exists.
    *
    * The orientation is the scale move: out-degrees under it are bounded by
    * O(√m) on any graph (and by the arboricity in general), so the wedge
    * stage generates Σ outdeg² = O(m^1.5) rows worst-case instead of the
    * Σ deg² a hub explodes to — a celebrity node with 10⁷ neighbors
    * contributes wedges only through the few neighbors that outrank it.
    * Plan shape: one node-keyed aggregate for degrees, two edge joins to
    * attach them, a self-join on the wedge pivot (both sides the same
    * exchange — ReuseExchange), and one (ws, wt)-keyed semi join to close.
    * Self-loops and duplicate/reversed edges are tolerated and ignored, as
    * in [[connectedComponents]].
    *
    * @return ONE row: (n_nodes, n_edges, n_triangles) — all
    *         orientation-independent, so an oracle needs no rank tie rules
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // (deg, id) is a total order on nodes — ties on degree break by id.
    val oriented = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"), col("du").as("dt"))).as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t"), col("o.dt").as("dt"))
    val byPivot = oriented.select(col("s"), struct(col("dt"), col("t")).as("r"))
    val wedges = byPivot.toDF("s", "r1").join(byPivot.toDF("s", "r2"), Seq("s"))
      .filter(col("r1") < col("r2")) // unordered neighbor pair, once
      .select(col("r1.t").as("ws"), col("r2.t").as("wt"))
    // An oriented closing edge (ws -> wt) exists iff {ws, wt} is an edge and
    // rank(ws) < rank(wt) — which the wedge's r1 < r2 already guarantees.
    val tri = wedges.join(oriented.select(col("s").as("ws"), col("t").as("wt")),
      Seq("ws", "wt"), "left_semi")
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** Undirected symmetrized edge list (both directions of every distinct
    * pair, self-loops and nulls dropped) — the shared normalization for
    * the traversal operators below.
    */
  private def symmetrize(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()
    e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
  }

  /** Multi-source BFS hop distances, bounded at `maxHops` rounds: every
    * node reachable from any source within `maxHops` undirected hops is
    * labeled with its MINIMUM hop count (sources themselves at 0);
    * unreached nodes are absent. The workhorse of corpus-graph triage —
    * "everything within k links of a known-bad seed set".
    *
    * Shape: k rounds of Bellman–Ford-style relaxation, each ONE edge join
    * (settled nodes × their edges) + ONE node-keyed min aggregate — all
    * shuffles keyed on node ids, no driver state, no frontier collect.
    * Round r's join re-expands every settled node (not just the new
    * frontier), trading O(k·m) total edge traversals for a plan with no
    * anti-join against a growing accumulator — at a bounded k that is the
    * cheaper and simpler distributed shape, and each round's aggregate
    * keeps the state at one row per reached node.
    *
    * Determinism: pure integer mins over integer hop counts — no floats,
    * no tie rules; the result is a function of the edge set alone.
    */
  def bfsDistances(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: DataFrame,
      sourceCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // sym feeds every relaxation round — a lazy checkpoint executes it
    // once (see pageRankInt).
    val sym = symmetrize(edges, srcCol, dstCol).ckptLazy
    var dist = sources
      .select(col(sourceCol).cast("long").as("node"))
      .filter(col("node").isNotNull).distinct()
      .withColumn("dist", lit(0))
    for (_ <- 1 to maxHops) {
      val relaxed = dist.join(sym, dist("node") === sym("u"))
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        // Round state checkpoints lazily, like labelPropagation's: plan
        // depth stays one round, not k.
        .ckptLazy
    }
    dist.select(col("node"), col("dist").cast("int").as("dist"))
  }

  /** Integer-scaled PageRank over the undirected (symmetrized) graph:
    * every node starts at `scale` and each of `iterations` rounds applies
    *
    *   pr'(v) = (3·scale) div 20  +  Σ_{u ~ v} (pr(u) · 17) div (20 · deg(u))
    *
    * — the standard d=0.85 damped recurrence with BOTH the damping factor
    * and the per-edge share expressed as exact BIGINT multiply-then-
    * floor-divide. No float appears anywhere, so the fixpoint iteration is
    * bit-reproducible across engines and partitionings (float PageRank is
    * not: Σ over in-neighbors is order-sensitive). The floor drops ≤ 1
    * unit per edge per round — at scale=10¹² a relative error of 10⁻¹²·deg,
    * far below any ranking use — and mass lost to flooring is NOT
    * redistributed (documented deviation from the normalized textbook
    * formulation; rankings are unaffected since every node floors alike).
    *
    * Shape per round: one broadcast-or-shuffle join of the O(n) rank table
    * with the O(n) degree table (both node-keyed — one exchange each,
    * reused across rounds), one edge join, one node-keyed sum. O(k·m)
    * total work, no driver state. Overflow headroom: Σpr ≤ n·scale, so
    * pr·17 stays in BIGINT for n·scale < 5·10¹⁷.
    */
  def pageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // The k-round plan references sym and deg once PER ROUND, and Spark
    // executes each occurrence separately (common subtrees are not shared;
    // ReuseExchange only fires on bit-identical exchange subtrees, which
    // column pruning routinely breaks — the RankOps lesson). A lazy
    // checkpoint materializes each ONCE on first use and serves the
    // remaining k−1 occurrences from the stored blocks — the same
    // pattern connectedComponents and kmeans use (measured: q_pagerank
    // 3.80 → 2.84 s at 5 rounds, q_bfs_reach 2.32 → 1.86, q_ppr
    // 3.52 → 2.85, q_label_prop 4.66 → 4.02 — sf0.1 isolated medians).
    val sym = symmetrize(edges, srcCol, dstCol).ckptLazy
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .ckptLazy
    val base = lit(3L * scale / 20L)
    var pr = deg.select(col("u").as("node"), lit(scale).as("pr"))
    for (_ <- 1 to iterations) {
      pr = pr
        .join(deg, pr("node") === deg("u"))
        .join(sym.select(col("u").as("eu"), col("v").as("ev")),
          col("node") === col("eu"))
        .select(col("ev").as("node"),
          expr("(pr * 17) div (20 * deg)").as("share"))
        .groupBy(col("node"))
        .agg((base + sum(col("share"))).as("pr"))
      // Round state deliberately NOT checkpointed here (unlike
      // labelPropagation/bfsDistances): each round is one join+sum whose
      // plan-depth cost is small, and materializing every round's full
      // rank table measured SLOWER (q_pagerank 1.70 → 2.22 s min sf0.1
      // isolated) — the single-aggregate rounds gain nothing to offset
      // the per-round block writes.
    }
    pr
  }

  /** Personalized (seed-restarted) integer PageRank: the same exact-BIGINT
    * recurrence as [[pageRankInt]], but the damped restart mass lands ONLY
    * on the seed set —
    *
    *   pr'(v) = [v ∈ S]·(3·scale) div 20  +  Σ_{u ~ v} (pr(u)·17) div (20·deg(u))
    *
    * with pr₀ = scale on seeds, 0 elsewhere. Rank mass diffuses outward
    * from the seeds, giving a relevance ordering "near my known-good set" —
    * the seed-expansion shape (finding documents/users similar to a
    * labeled handful) that complements [[bfsDistances]]' hop counts with a
    * degree-weighted score. Same determinism argument as pageRankInt:
    * every step is BIGINT multiply-then-floor-divide, bit-reproducible
    * across engines and partitionings.
    *
    * Shape per round: identical to pageRankInt (rank⋈degree⋈edges, then a
    * node-keyed sum) plus one broadcast-sized join against the seed flag
    * to add the restart mass — the seed table ships once. Every node keeps
    * a row each round (the symmetrized graph gives every node an in-edge,
    * and zero-valued shares still produce rows), so the seed join after
    * the aggregate loses nobody.
    */
  def personalizedPageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // sym/deg feed every round — a lazy checkpoint executes each once
    // (see pageRankInt).
    val sym = symmetrize(edges, srcCol, dstCol).ckptLazy
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .ckptLazy
    val seed = seeds.select(col(seedCol).cast("long").as("node"))
      .filter(col("node").isNotNull).distinct()
      .withColumn("is_seed", lit(true))
    val base = lit(3L * scale / 20L)
    def withRestart(masses: DataFrame): DataFrame =
      masses.join(broadcast(seed), Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed"), base).otherwise(lit(0L)) + col("mass")).as("pr"))
    var pr = deg.select(col("u").as("node"))
      .join(broadcast(seed), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iterations) {
      pr = withRestart(pr
        .join(deg, pr("node") === deg("u"))
        .join(sym.select(col("u").as("eu"), col("v").as("ev")),
          col("node") === col("eu"))
        .select(col("ev").as("node"),
          expr("(pr * 17) div (20 * deg)").as("share"))
        .groupBy(col("node"))
        .agg(sum(col("share")).as("mass")))
      // Round state deliberately NOT checkpointed — see pageRankInt.
    }
    pr
  }

  /** Synchronous majority-vote label propagation (community detection),
    * run for a FIXED number of rounds over the undirected (symmetrized)
    * graph. Every node starts labeled with its own id; each round every
    * node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the MINIMUM label. The fixed round count
    * plus the deterministic tie rule make the result a pure function of
    * the edge set — the async/random-order variants in the literature are
    * not reproducible and could never face a hash gate.
    *
    * Shape per round: one edge join against the O(n) label table (keyed
    * on node id), one (node, label)-keyed count aggregate, one node-keyed
    * argmax aggregate — all shuffles on node ids, no driver state. The
    * argmax is a single `max(struct(cnt, -label))`: among a node's
    * neighbor labels the struct max picks the highest count, and among
    * equal counts the max of the negated label, i.e. the minimum label —
    * one aggregate instead of a rank window. O(k·m) total work, the same
    * scale posture as [[pageRankInt]].
    *
    * @return columns: node LONG, community LONG (labels after k rounds)
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // sym feeds every round — a lazy checkpoint executes it once (see
    // pageRankInt).
    val sym = symmetrize(edges, srcCol, dstCol).ckptLazy
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to iterations) {
      labels = sym
        .join(labels, sym("v") === labels("node"))
        .groupBy(sym("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("lbl"))
        // Round state is checkpointed too (lazily): without it the final
        // action plans one k-round-deep nested tree — at k=3 it works, at
        // 10+ rounds (or 100× data) the un-truncated round lineage is the
        // scale risk, and each round's 2-level aggregate re-enters the
        // optimizer k times. The checkpoint caps plan depth at one round
        // and serves round r's labels to round r+1 from executor-local
        // blocks (measured: q_label_prop 4.0 → 2.6 s sf0.1 isolated).
        .ckptLazy
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Incremental connected components — fold NEW edges into an EXISTING
    * labeling without re-traversing old edges. The growing-dedup-graph
    * path: at 100 TB the duplicate graph accretes daily (each ingest
    * batch's near-dup pairs), and recomputing components over the full
    * history every day is the scale trap this avoids.
    *
    * Quotient contraction: each new edge's endpoints map through their old
    * label (unlabeled = genuinely new nodes map to themselves), components
    * are computed on that QUOTIENT graph — whose size is bounded by the new
    * batch, never the history — and old labels remap through the quotient
    * result (untouched components keep their label via the left join).
    *
    * Exactness: [[connectedComponents]] labels with the component-minimum
    * node id, and min composes through contraction — each old label IS the
    * minimum of its old component, so the quotient minimum over (touched
    * labels ∪ new node ids) is the true minimum of the merged component.
    * The result is row-identical to `connectedComponents(old ∪ new)` over
    * `nodes(labels) ∪ nodes(newEdges)` — property-pinned in GraphOpsSpec
    * and gated against the same from-scratch oracle as q_dedup_clusters.
    *
    * Shuffles: two broadcast-or-hash joins keyed by node/label to build the
    * quotient, the CC rounds on the batch-sized quotient graph, one label
    * remap join. Nothing scans or shuffles the historical edge set.
    *
    * @param labels (nodeCol, compCol) from a previous run over the old edges
    * @return columns: node LONG, component LONG (= min node id reachable
    *         in the union graph)
    */
  def incrementalComponents(
      labels: DataFrame, nodeCol: String, compCol: String,
      newEdges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    val lab = labels.select(col(nodeCol).as("n"), col(compCol).as("c"))
    val qe = newEdges.select(col(srcCol).as("u0"), col(dstCol).as("v0"))
      .join(lab.toDF("u0", "cu"), Seq("u0"), "left")
      .join(lab.toDF("v0", "cv"), Seq("v0"), "left")
      .select(coalesce(col("cu"), col("u0")).as("u"),
        coalesce(col("cv"), col("v0")).as("v"))
      .filter(col("u") =!= col("v")) // in-component edges contract away
    val q = connectedComponents(qe, "u", "v", maxIter)
    val relabeled = lab
      .join(q.toDF("c", "qc"), Seq("c"), "left")
      .select(col("n").as("node"), coalesce(col("qc"), col("c")).as("component"))
    // Quotient nodes that are not old label-bearers are genuinely new nodes;
    // their quotient component is already final. (Old labels are themselves
    // labeled nodes — labels contains (l, l) — so the anti-join drops them.)
    val newNodes = q.toDF("node", "component")
      .join(lab.select(col("n").as("node")), Seq("node"), "left_anti")
    relabeled.unionByName(newNodes)
  }

  /** ONLINE duplicate-cluster maintenance — the streaming twin of
    * [[incrementalComponents]]: each micro-batch of near-dup edges folds
    * into the labeling via `foreachBatch`, so a long-running dedup job
    * keeps canonical clusters current without ever re-traversing the
    * historical edge set (per-batch cost is bounded by the batch's
    * quotient graph, exactly the batch operator's contract).
    *
    * foreachBatch, not a stateful operator: component merging is a global
    * fixpoint over keys (an edge can fuse two arbitrary clusters), which
    * per-key `mapGroupsWithState` state cannot express — the labels
    * DataFrame IS the state. It is EAGERLY checkpointed each fold;
    * the lazy form would accrete one plan layer per batch and replan the
    * entire history every trigger (the streaming-fold lineage trap — the
    * per-round analog is measured in the iterative graph operators).
    *
    * After `query.processAllAvailable()` (or at any trigger boundary),
    * `labels()` returns the labeling, row-identical to
    * [[connectedComponents]] over every edge seen so far — gated by the
    * same from-scratch oracle as the batch gates (q_stream_components).
    */
  def streamComponents(edgeStream: DataFrame, srcCol: String, dstCol: String)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => DataFrame) = {
    val spark = edgeStream.sparkSession
    import spark.implicits._
    @volatile var labels = Seq.empty[(Long, Long)].toDF("node", "component")
    val q = edgeStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        labels = incrementalComponents(labels, "node", "component",
          batch, srcCol, dstCol).ckptEager
        ()
      }
      .start()
    (q, () => labels)
  }

  /** k-core: the maximal subgraph of the undirected (symmetrized,
    * deduplicated, loop-free) graph in which every node has degree ≥ `k` —
    * the standard density screen for graph-shaped corpora (a near-dup or
    * citation cluster that survives the 3-core is structural, not a chance
    * collision). Computed by the textbook peeling fixpoint: drop every
    * node of degree < k, recompute degrees, repeat until stable. The
    * result is a well-defined function of the edge set (the k-core is
    * unique), so the output is deterministic with no tie rules.
    *
    * Shape per round: one node-keyed count aggregate + two node-keyed
    * anti-joins of the edge list against the dropped-node set (AQE
    * broadcasts the dropped side when small) — never an all-pairs or
    * driver-side structure; the round state is checkpointed so plan depth
    * stays one round. Rounds are bounded by the peeling depth of the
    * graph — O(1)-ish on real corpus graphs, O(n) only on adversarial
    * chains (a path peels from the ends inward one layer per round); the
    * `maxRounds` guard turns that pathology into a loud error instead of
    * a runaway job. One count() action per round is the convergence check.
    *
    * Output: (node, deg) — the surviving nodes with their degree INSIDE
    * the core (deg ≥ k by construction); empty when the core is empty.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, kMin: Int,
      maxRounds: Int = 100): DataFrame =
    kCoreWithRounds(edges, srcCol, dstCol, kMin, maxRounds)._1

  /** [[kCore]] exposing the round count — the gate pins rounds ≤ the
    * oracle's unrolling depth, so the unrolled-CTE oracle is provably
    * sufficient for the fixture rather than assumed so.
    */
  private[graft] def kCoreWithRounds(edges: DataFrame, srcCol: String,
      dstCol: String, kMin: Int, maxRounds: Int): (DataFrame, Int) = {
    require(kMin >= 1, s"kMin must be >= 1, got $kMin")
    var cur = symmetrize(edges, srcCol, dstCol).ckptLazy
    var rounds = 0
    var converged = false
    while (!converged) {
      val low = cur.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") < kMin).select(col("u"))
        .ckptLazy
      if (low.isEmpty) converged = true
      else {
        rounds += 1
        if (rounds > maxRounds) throw new IllegalStateException(
          s"kCore did not converge in $maxRounds peeling rounds — " +
            "adversarial chain-shaped graph; raise maxRounds deliberately")
        cur = cur.join(low, Seq("u"), "left_anti")
          .join(low.select(col("u").as("v")), Seq("v"), "left_anti")
          .select(col("u"), col("v"))
          .ckptLazy
      }
    }
    (cur.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg")), rounds)
  }
}
