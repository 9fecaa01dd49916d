package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Link-analysis over edge tables: fixed-iteration PageRank in exact
  * integer arithmetic.
  *
  * Training-data curation uses link analysis to weight crawled pages
  * (a page's rank feeds quality filtering and sampling weights), so the
  * engine ships it as a first-class batch operator rather than leaving
  * users to export the graph elsewhere.
  *
  * Everything is fixed-point: ranks live in a scaled BIGINT, every
  * division is integral (`div`), every sum is exact integer addition —
  * so the distributed result is bit-identical regardless of
  * partitioning or aggregation order, and an external SQL oracle can
  * replay it verbatim. (Float PageRank would differ per run: shuffle
  * order changes the summation order.)
  *
  * Scale shape: each iteration is one shuffle-join of edges with the
  * current rank table on `src` plus one aggregation by `dst` — the
  * standard distributed PageRank step. Edges are persisted once (they
  * are re-read every iteration); on a long-lived session the cache is
  * LRU-evictable. Every sweep ends in a lazy [[Tables.cutLineage]], the
  * engine's one cut policy: without it, sweep k's plan embeds sweeps
  * 1..k-1, so whole-stage codegen compiles O(k²) stages (measured: 37 s
  * cold / 6.4 s warm for 3 PageRank sweeps at sf0.1; ~2.5 s warm with
  * the cut). Each operator stays one lazy plan, each sweep reading the
  * previous sweep's blocks inside the caller's one action.
  */
object Graph {

  // Damping is the exact fraction 85/100. Fixed point: a PageRank rank
  // of 1.0 is 10¹², the top HITS score is 10⁶.
  private val DampNum = 85L
  private val DampDen = 100L
  private val PageRankScale = 1000000000000L
  private val HitsScale = 1000000L

  /** PageRank with `iterations` synchronous sweeps.
    *
    * Dangling mass (nodes with no out-edges) is dropped rather than
    * redistributed — ranks are then not a probability distribution, but
    * the ORDERING (what curation consumes) matches standard PageRank on
    * graphs whose dangling share is small, and exactness is preserved.
    *
    * @param edges0 directed edge table; deduplicated internally
    * @return (node, rank_fp) — rank_fp is the 10¹²-scaled integer rank
    */
  def pageRankInt(edges0: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1)
    // Persist the edge table PRE-PARTITIONED by src — the key every
    // sweep's inflow join probes. distinct() leaves the cache
    // partitioned by (src, dst), so without the repartition each of the
    // k sweeps re-exchanges the full edge table (its only bulk shuffle);
    // one extra exchange at build time removes k. The cached plan's
    // outputPartitioning is visible to the per-sweep joins, which then
    // exchange only the ≤|V|-row share table. (The standard pre-
    // partitioned-adjacency layout every distributed PageRank uses.)
    val edges = edges0
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Out-degrees are sweep-invariant: cut their lineage once so sweeps
    // read the ≤|V|-row result instead of re-aggregating the edge cache.
    val outdeg = Tables.cutLineage(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    // Node count and teleport base as a broadcast 1-row frame: keeps the
    // whole computation one lazy plan (no driver action inside the
    // operator). base = ((1-d) * scale) div n, exactly.
    val base = broadcast(nodes.agg(count(lit(1)).as("n_nodes"))
      .select(col("n_nodes"),
        expr(s"(${(DampDen - DampNum) * PageRankScale} div $DampDen) div n_nodes")
          .as("base_fp")))
    var ranks = nodes.crossJoin(base)
      .select(col("node"), expr(s"${PageRankScale}L div n_nodes").as("r"))
    for (_ <- 1 to iterations) {
      // Per-source outflow share, integral: r div deg. Sources without
      // out-edges contribute nothing (inner join drops them).
      val share = ranks.join(outdeg, ranks("node") === outdeg("src"))
        .select(col("src"), expr("r div deg").as("c"))
      val inflow = edges.join(share, "src")
        .groupBy("dst").agg(sum("c").as("infl"))
      val swept = nodes.join(inflow, nodes("node") === inflow("dst"), "left")
        .crossJoin(base)
        .select(col("node"),
          expr(s"base_fp + (($DampNum * coalesce(infl, 0L)) div $DampDen)")
            .as("r"))
      ranks = Tables.cutLineage(swept)
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
  }

  /** HITS hubs & authorities (Kleinberg), exact-integer power sweeps.
    *
    * Each sweep: authority = Σ hub over in-edges, hub = Σ authority over
    * out-edges — the standard mutual recursion — followed by
    * MAX-normalization in fixed point (`(x · scale) div max(x)`) instead
    * of the textbook L2 norm: the L2 norm's sqrt+divide is
    * engine-dependent float math, while max-normalization keeps every
    * intermediate an exact 64-bit integer (so results are bit-identical
    * under any partitioning) and preserves the score ORDERING, which is
    * what ranking consumers use. Like [[pageRankInt]], the whole
    * computation is one lazy plan — the per-sweep maxima are 1-row
    * broadcast frames, not driver actions.
    *
    * Scale shape per sweep: two shuffle join+agg rounds (in-edges, then
    * out-edges) over the persisted edge table.
    */
  def hitsInt(edges0: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1)
    // Two cached copies of the edge table, one per sweep-join key: the
    // authority sweep probes on src, the hub sweep on dst. Caching each
    // copy pre-partitioned on its key removes a full-edge-table exchange
    // from EVERY sweep half (2k exchanges for k iterations) at the cost
    // of one extra exchange per copy at build — the CSR/CSC adjacency
    // pair every distributed HITS keeps.
    val dedup = edges0
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val edges = dedup.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgesByDst = dedup.repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def renorm(raw: DataFrame, valCol: String): DataFrame = {
      // (x * scale) div max(x): max > 0 whenever the graph has edges
      val mx = broadcast(raw.agg(max(col(valCol)).as("__mx")))
      raw.crossJoin(mx)
        .select(col("node"),
          expr(s"($valCol * ${HitsScale}L) div __mx").as(valCol))
    }
    var hub = nodes.select(col("node"), lit(HitsScale).as("h"))
    var auth: DataFrame = null
    // The lineage cut goes BEFORE renorm, not after: renorm reads its
    // input TWICE (the max aggregate and the scaled projection), so a
    // post-renorm cut still re-derives each sweep's join+agg once per
    // reference — measured 5.1 s for 2 iterations at sf0.1 with the
    // cut after, 3.0 s with it before. Renorm's own output is a narrow
    // map over the cut blocks plus a 1-row broadcast; the next sweep's
    // cut bounds its lineage, so no second cut is needed.
    for (_ <- 1 to iterations) {
      val aRaw = nodes.join(
          edges.join(hub, edges("src") === hub("node"))
            .groupBy(col("dst")).agg(sum("h").as("a_raw")),
          nodes("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("a_raw"), lit(0L)).as("a"))
      auth = renorm(Tables.cutLineage(aRaw), "a")
      val hRaw = nodes.join(
          edgesByDst.join(auth, edgesByDst("dst") === auth("node"))
            .groupBy(col("src")).agg(sum("a").as("h_raw")),
          nodes("node") === col("src"), "left")
        .select(col("node"), coalesce(col("h_raw"), lit(0L)).as("h"))
      hub = renorm(Tables.cutLineage(hRaw), "h")
    }
    auth.select(col("node"), col("a").as("auth_fp"))
      .join(hub.select(col("node"), col("h").as("hub_fp")), Seq("node"))
  }

  /** Personalized PageRank: the random walk teleports back to a SEED
    * SET instead of the whole graph — "how close is every node to the
    * trusted pages", the quality-propagation signal TrustRank-style
    * curation uses (seed quality flows along links; spam far from all
    * seeds starves). Same exact-integer fixed point as [[pageRankInt]]
    * — bit-identical under any partitioning, replayed verbatim by a
    * serial SQL oracle — with the teleport vector `v` uniform over
    * seeds: `r₀ = v`, `rₖ₊₁ = (1-d)·v + d·M rₖ`, non-seeds get ZERO
    * teleport mass.
    *
    * Scale shape per sweep: identical to [[pageRankInt]] (one
    * shuffle-join on `src` + one aggregation by `dst` over the
    * persisted edge table); the seed set joins once as a left-semi
    * flag, and the 1-row seed-count frame broadcasts.
    */
  def personalizedPageRankInt(edges0: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1)
    // Same pre-partitioned-by-src edge cache + one-shot out-degree cut
    // as [[pageRankInt]] — removes the per-sweep full-edge exchange.
    val edges = edges0
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct()
    val outdeg = Tables.cutLineage(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    // Seeds restricted to graph nodes: teleport mass must land on rows
    // the sweep join can ever see, and n_seeds must count the same set.
    val seedNodes = nodes.join(
        seeds.select(col(seedCol).as("node")).distinct(),
        Seq("node"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSeeds = broadcast(seedNodes.agg(count(lit(1)).as("n_seeds")))
    // Per-node teleport mass: ((1-d)·scale) div n_seeds on seeds, 0 off.
    val flagged = nodes
      .join(seedNodes.withColumn("__is_seed", lit(true)), Seq("node"), "left")
      .crossJoin(nSeeds)
      .select(col("node"),
        when(col("__is_seed"),
          expr(s"(${(DampDen - DampNum) * PageRankScale} div $DampDen) div n_seeds"))
          .otherwise(lit(0L)).as("tele_fp"),
        when(col("__is_seed"), expr(s"${PageRankScale}L div n_seeds"))
          .otherwise(lit(0L)).as("r0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = flagged.select(col("node"), col("r0").as("r"))
    for (_ <- 1 to iterations) {
      val share = ranks.join(outdeg, ranks("node") === outdeg("src"))
        .select(col("src"), expr("r div deg").as("c"))
      val inflow = edges.join(share, "src")
        .groupBy("dst").agg(sum("c").as("infl"))
      val swept = flagged.join(inflow, flagged("node") === inflow("dst"), "left")
        .select(col("node"),
          expr(s"tele_fp + (($DampNum * coalesce(infl, 0L)) div $DampDen)")
            .as("r"))
      ranks = Tables.cutLineage(swept)
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007),
    * `rounds` fixed sweeps: every node simultaneously adopts the most
    * frequent label among its neighbors AND itself, ties broken by the
    * smaller label — deterministic (synchronous + total tie order), so
    * the distributed result is partition-invariant and an unrolled SQL
    * oracle replays it exactly. Unlike connected components (which only
    * answers "touching at all"), frequency-weighted propagation tracks
    * DENSITY: a node linked once to a big community and three times to
    * a small one joins the small one.
    *
    * A fixed round count, not loop-to-convergence: LPA on large graphs
    * is run for a bounded sweep budget anyway (oscillation is possible
    * under synchronous update), and bounded rounds keep the plan a
    * straight-line DAG. Scale shape per sweep: one shuffle-join of the
    * symmetrized adjacency with the label table + one two-level
    * aggregation ((node, label) counts, then per-node argmax via a
    * lexicographic struct-min — partial-agg friendly, no window sort).
    * Per-sweep lineage cut as in [[pageRankInt]].
    */
  def labelPropagation(edges0: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 2): DataFrame = {
    require(rounds >= 1)
    val und = edges0.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
    // Symmetrize + a self-loop per node: the node's own label votes
    // once, which dampens 2-cycles of synchronous label swapping.
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v"))).distinct()
    // Pre-partitioned by v — the key every round's vote join probes —
    // so rounds exchange only the ≤|V|-row label table, not the
    // symmetrized adjacency (same rationale as [[pageRankInt]]).
    val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .unionAll(nodes.select(col("node").as("u"), col("node").as("v")))
      .repartition(col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val votes = adj.join(labels, adj("v") === labels("node"))
        .groupBy(adj("u").as("nd"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, label asc) as min(struct(-cnt, label)) —
      // lexicographic struct comparison inside a plain aggregate.
      val swept = votes
        .groupBy(col("nd").as("node"))
        .agg(min(struct((col("cnt") * -1).as("nc"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
      labels = Tables.cutLineage(swept)
    }
    labels
  }

  /** Per-node triangle counts via degree-ordered edge orientation —
    * the clustering-coefficient numerator, a spam/quality signal for
    * link graphs (link farms triangle-saturate; organic link
    * neighborhoods don't) and the standard test of whether a graph
    * engine can avoid the naive 3-way self-join blowup.
    *
    * Algorithm (the "compact-forward" shape every distributed triangle
    * counter uses): canonicalize to undirected edges `u < v`; orient
    * each edge from the (degree, id)-smaller endpoint to the larger;
    * enumerate wedges as self-joins of the oriented edge list on the
    * shared LOW endpoint (pairing the two out-neighbors in orientation
    * order); close each wedge against the oriented edge set. Every
    * triangle is produced exactly once, and per-node wedge work is
    * Σ out-deg² where orientation bounds out-degree at O(√m) — the
    * whole reason to orient by degree rather than join raw edges
    * (a hub of degree d would otherwise contribute d² wedges).
    *
    * Orientation keys pack (degree, id) into one BIGINT
    * (`deg·2³² + id`, exact while ids < 2³² and degrees < 2³¹) so the
    * three joins compare single longs instead of structs. All counts
    * are exact integers — partition-order invariant, replayable by a
    * serial SQL oracle.
    *
    * Scale shape: degree computation is one agg over edges; the wedge
    * enumeration and the closing check are equality joins on node keys
    * (shuffle-partitioned, AQE-balanced) — the n² pair space is never
    * enumerated.
    *
    * @return (node, n_triangles) for every node of the graph,
    *         zero-filled for triangle-free nodes.
    */
  def triangleCounts(edges0: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    triangleCountsImpl(edges0, srcCol, dstCol, withDeg = false)

  /** [[triangleCounts]] plus each node's degree — the clustering-
    * coefficient inputs from ONE edge canonicalization and ONE degree
    * aggregation (callers needing both must not rebuild them).
    */
  def triangleCountsWithDeg(edges0: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    triangleCountsImpl(edges0, srcCol, dstCol, withDeg = true)

  private def triangleCountsImpl(edges0: DataFrame, srcCol: String,
      dstCol: String, withDeg: Boolean): DataFrame = {
    // Canonical undirected edges: u < v, self-loops dropped, dedup'd.
    val und = edges0.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v"))).distinct()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Packed orientation key: (deg, id) as one comparable BIGINT.
    val keyed = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"),
        (col("du") * lit(4294967296L) + col("u")).as("ku"),
        (col("dv") * lit(4294967296L) + col("v")).as("kv"))
    // Oriented: lo --> hi in (deg, id) order.
    val ori = keyed.select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("lo"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("hi"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("khi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Wedges (a; b, c) with b before c in orientation order; the closing
    // edge b->c, if present, is oriented exactly that way, so one
    // semi-join on (lo, hi) = (b, c) closes the triangle.
    val w1 = ori.select(col("lo").as("a"), col("hi").as("b"), col("khi").as("kb"))
    val w2 = ori.select(col("lo").as("a2"), col("hi").as("c"), col("khi").as("kc"))
    val wedges = w1.join(w2, col("a") === col("a2") && col("kb") < col("kc"))
      .select(col("a"), col("b"), col("c"))
    val tris = wedges.join(ori,
        wedges("b") === ori("lo") && wedges("c") === ori("hi"), "left_semi")
    // Every triangle credits each of its three corners once.
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val base = nodes.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
    if (withDeg) base.join(deg, Seq("node")) // 1:1 — every node has deg ≥ 1
    else base
  }

  /** Per-node 2-hop reach over an undirected graph: the number of
    * DISTINCT nodes at graph distance exactly 2 (friends-of-friends who
    * are not already friends) — the standard link-prediction candidate
    * count and a cheap "how fast does this node's neighborhood expand"
    * centrality proxy.
    *
    * Plan shape: canonical undirected edges (u<v, dedup'd) symmetrize
    * into adjacency; one self-join on the middle node enumerates wedges
    * (Σ deg² work — the same bound as triangle counting's wedge stage,
    * no n² pair space), a distinct collapses parallel 2-paths, and a
    * left-anti join against the adjacency removes distance-1 pairs.
    * All shuffles key on node ids; AQE balances the skewed hubs.
    * Nodes with no distance-2 neighbor report 0.
    */
  def twoHopReach(edges0: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges0.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v"))).distinct()
    // Wedges a -(b)- c, a ≠ c; distinct BEFORE the anti-join so each
    // (a, c) pair is tested against the adjacency once, not per path.
    val twoPaths = adj.select(col("u").as("a"), col("v").as("b"))
      .join(adj.select(col("u").as("b"), col("v").as("c")), "b")
      .where(col("a") =!= col("c"))
      .select("a", "c").distinct()
    val dist2 = twoPaths.join(adj,
      twoPaths("a") === adj("u") && twoPaths("c") === adj("v"), "left_anti")
    val counts = dist2.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("n_2hop"))
    nodes.join(counts, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
  }

  /** Bounded k-core peeling: `rounds` sweeps of "drop every node with
    * degree < k, then recompute" over an undirected graph — the dense-
    * core extraction that separates organically-linked pages from
    * long-tail leaves (spam/boilerplate graphs shed whole subtrees in
    * the first sweep). A FIXED round count, not loop-to-fixpoint, keeps
    * the plan finite and the result replayable by an unrolled SQL
    * oracle; each sweep is one degree aggregation + two semi-joins,
    * exact integers throughout, with a lazy lineage cut per sweep
    * (each sweep references the working edge set three times, so an
    * uncut plan re-derives all earlier sweeps per reference).
    *
    * @return surviving (node, deg) — degree measured in the final
    *         filtered graph.
    */
  def kCore(edges0: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val und = edges0.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
    var adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (_ <- 1 to rounds) {
      val keep = adj.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("node")
      // Lineage cut per peel round: each round references `adj` THREE
      // times (the degree aggregate + both semi-join probes), so an
      // uncut plan re-derives every earlier round's joins per reference
      // — measured 8.0 s for 3 rounds at sf0.1, 1.3 s with the cut.
      adj = Tables.cutLineage(adj
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select("u", "v"))
    }
    // Degrees measured in the final filtered graph — NOT re-filtered:
    // a fixed-round peel reports the graph as the last sweep left it
    // (nodes that fell below k in the final sweep surface with their
    // residual degree; the next sweep would drop them).
    adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Link prediction: the top-k NON-adjacent node pairs ranked by
    * common-neighbor count, with the neighborhood-Jaccard score in ppm
    * as tie-break evidence — the classic "which edges are missing"
    * candidate list (crawl frontier prioritization, related-item
    * suggestions). Fully deterministic rank order:
    * (common neighbors desc, jaccard ppm desc, a asc, c asc).
    *
    * Plan shape: wedge enumeration over the symmetrized adjacency with
    * `a < c` canonicalization (Σ deg² work, each pair counted once per
    * shared neighbor), one (a, c) count aggregation, a left-anti join
    * against the canonical edge set to drop already-linked pairs, two
    * degree joins, and a bounded global top-k through
    * TakeOrderedAndProject — the n² pair space is never enumerated.
    */
  def linkPrediction(edges0: DataFrame, srcCol: String, dstCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 1)
    val und = edges0.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val deg = adj.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val cn = adj.select(col("u").as("a"), col("v").as("b"))
      .join(adj.select(col("u").as("b"), col("v").as("c")), "b")
      .where(col("a") < col("c"))
      .groupBy("a", "c").agg(count(lit(1)).as("common"))
    cn.join(und, cn("a") === und("u") && cn("c") === und("v"), "left_anti")
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("c"), col("deg").as("dc")), "c")
      .select(col("a"), col("c"), col("common"),
        expr("(common * 1000000) div (da + dc - common)").as("jaccard_ppm"))
      .orderBy(col("common").desc, col("jaccard_ppm").desc,
        col("a"), col("c"))
      .limit(k)
  }

  /** Multi-source BFS: hop distance from the nearest seed, bounded at
    * `maxDepth` sweeps — "how far is every page from a trusted seed
    * set", the TrustRank-style proximity signal curation uses to weight
    * crawled documents. Nodes unreached within `maxDepth` hops are
    * absent from the output (their distance is unknown, not ∞).
    *
    * Each sweep is one join + one min-aggregation — all integers, so
    * results are partition-invariant; per-sweep lineage is cut the same
    * way as [[pageRankInt]].
    */
  def bfsDepth(edges0: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1)
    // Pre-partitioned by src, the per-sweep frontier-join key (same
    // rationale as [[pageRankInt]]).
    val edges = edges0
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var depth = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("depth", lit(0L))
    for (d <- 1 to maxDepth) {
      val next = depth.join(edges, depth("node") === edges("src"))
        .select(col("dst").as("node"), lit(d.toLong).as("depth"))
      val swept = depth.union(next)
        .groupBy("node").agg(min("depth").as("depth"))
      depth = Tables.cutLineage(swept)
    }
    depth
  }
}
