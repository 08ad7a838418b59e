package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftSession.LineageOps

/** Integer-arithmetic PageRank — link-quality weighting for corpus
  * curation (rank citation/hyperlink graphs to prioritize or weight
  * sources), the iterative-analytics twin of
  * [[Dedup.connectedComponents]].
  *
  * All rank mass is carried as a fixed-point BIGINT (`scale` = 1.0):
  * per-edge contribution is `rank div out_degree`, the damped update
  * is `(15·r0) div 100 + (85·Σcontrib) div 100` — every step integral,
  * so any engine that mirrors the iteration structure reproduces the
  * ranks BIT FOR BIT (the DuckDB oracle unrolls the same k rounds as
  * chained CTEs). Truncation loses ≤1 unit of 1e-12 mass per edge per
  * round — noise for ranking, determinism for the gate.
  *
  * Scale: the classic Pregel-lite shape — k rounds × (edge⋈rank join
  * + dst-keyed sum). The edge+degree table materializes once
  * (localCheckpoint) and every round joins against it; ranks stay
  * node-cardinality. Driver loops over ROUNDS, never rows. Dangling
  * nodes keep the base term only (their mass is not redistributed —
  * the variant is mirrored exactly in the oracle).
  *
  * Deployment note (applies to every operator here): lineage is
  * truncated via [[graft.core.GraftSession.truncate]] — executor-local
  * blocks by default (fast, zero-config), upgrading AUTOMATICALLY to a
  * reliable `checkpoint()` whenever the context has a checkpoint dir
  * set. On long cluster runs with executor loss or dynamic allocation,
  * set `sc.setCheckpointDir(...)`; results are identical either way
  * (GraphRankSpec pins that equivalence).
  */
object GraphRank {

  val Scale = 1000000000000L // 1.0 in fixed point

  /** The loop-invariant artifacts every Pregel-lite ranking loop
    * joins against, built ONCE: the edge+degree table pre-partitioned
    * by src and checkpointed (every round's src-join then moves only
    * the node-cardinality rank table — the edge table never
    * re-shuffles), the distinct node table checkpointed, and the node
    * count. [[prepare]] once per (graph, session) and share across
    * ranking calls: pageRank and personalizedPageRank over the SAME
    * edges (the gate's supplier⇄customer graph) reuse one artifact
    * set instead of re-materializing it per query.
    */
  case class PreparedGraph(eDeg: DataFrame, nodes: DataFrame, n: Long)

  def prepare(edges: DataFrame, srcCol: String, dstCol: String): PreparedGraph = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // pre-partition both loop-invariant sides by their join keys ONCE:
    // every round's src-join then moves only the (node-cardinality)
    // rank table, and the final node-join reuses the agg's own
    // node-partitioning — the edge table never re-shuffles.
    val eDeg = e.join(deg, "src").repartition(col("src")).truncateLineage()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .truncateLineage()
    PreparedGraph(eDeg, nodes, nodes.count())
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int): DataFrame = {
    // validate BEFORE prepare(): the range check must stay a
    // precondition, not fire after minutes of materialization
    require(iters >= 1 && iters <= 50, s"iters must be 1..50, got $iters")
    pageRank(prepare(edges, srcCol, dstCol), iters)
  }

  def pageRank(g: PreparedGraph, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be 1..50, got $iters")
    val PreparedGraph(eDeg, nodes, n) = g
    require(n > 0, "pageRank on an empty graph")
    val r0 = Scale / n
    val base = (15L * r0) / 100L
    rankLoop(eDeg, nodes, r0, lit(base), iters)
  }

  /** The damped update both rankings iterate: every node starts at
    * `r0`, and each round's rank is `teleport` (a column over `nodes`)
    * plus `(85·Σcontrib) div 100`.
    */
  private def rankLoop(eDeg: DataFrame, nodes: DataFrame, r0: Long,
                       teleport: org.apache.spark.sql.Column,
                       iters: Int): DataFrame = {
    var ranks = nodes.select(col("node"), lit(r0).as("rank"))
    var iter = 0
    while (iter < iters) {
      val contribs = eDeg
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (teleport + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
      // checkpoint PERIODICALLY, not per round: the per-round plan is
      // shallow (one join + one agg), so a few stacked rounds replan
      // cheaply, while an eager materialization every round costs more
      // than it saves. Deep iteration counts still truncate lineage.
      if ((iter + 1) % 4 == 0 && iter + 1 < iters)
        ranks = ranks.truncateLineage()
      iter += 1
    }
    ranks
  }

  /** Personalized PageRank: the teleport mass lands ONLY on the seed
    * set, so ranks measure proximity to the seeds through the link
    * structure — the "weight sources by similarity to a trusted seed
    * corpus" selection signal (the link-analysis counterpart of DSIR's
    * content-side importance weighting).
    *
    * Same fixed-point BIGINT contract as [[pageRank]]: seeds split the
    * 15% teleport mass integrally (`(15·Scale div 100) div |S|`), the
    * damped update is `base_if_seed + (85·Σcontrib) div 100`, every
    * step integral — the DuckDB oracle unrolls the same rounds as
    * chained CTEs and matches bit for bit. Nodes with no in-path from
    * a seed hold only initial mass decaying geometrically (0.85 per
    * round, integer-truncated) — rank order separates them from the
    * seed-fed region after a few rounds. Iteration/shuffle shape
    * identical to [[pageRank]].
    *
    * @param isSeed evaluated against the node id column
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           isSeed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                           iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be 1..50, got $iters")
    personalizedPageRank(prepare(edges, srcCol, dstCol), isSeed, iters)
  }

  def personalizedPageRank(g: PreparedGraph,
                           isSeed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                           iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be 1..50, got $iters")
    // the seed flag is a cheap projection over the already-
    // checkpointed shared node table — no second materialization
    val nodes = g.nodes.select(col("node"), isSeed(col("node")).as("seed"))
    val nSeeds = nodes.where(col("seed")).count()
    require(nSeeds > 0, "personalizedPageRank needs at least one seed node")
    val base = (15L * Scale / 100L) / nSeeds
    val r0 = Scale / math.max(g.n, 1L)
    rankLoop(g.eDeg, nodes, r0, when(col("seed"), lit(base)).otherwise(lit(0L)), iters)
  }

  /** The loop-invariant artifacts every undirected-graph operator
    * reads, built ONCE by [[prepareUndirected]] and shared across calls
    * (the undirected counterpart of [[PreparedGraph]]):
    *
    *  - `canon` (a, b): canonical edges, `a < b`, no self-loops, no
    *    duplicates;
    *  - `adj` (src, dst, deg): the symmetric adjacency, both
    *    orientations of every canonical edge, with `deg` = degree of
    *    `src`, hash-partitioned by `src` (the planner does not know
    *    it: a checkpoint under AQE reports no partitioning);
    *  - `deg` (node, deg): the degree of every non-isolated node;
    *  - `orient` (u, v, dv): each edge once, pointing from its
    *    (degree, id)-smaller endpoint `u` to the larger `v`, with
    *    `dv` = degree of `v`;
    *  - `m`: the canonical edge count.
    *
    * Every table is checkpointed, so a consumer pays only its own
    * loop, wedge step or scoring tail — never the canonicalization
    * shuffle, the degree aggregate or the orientation joins again.
    */
  case class UndirectedGraph(canon: DataFrame, adj: DataFrame, deg: DataFrame,
                             orient: DataFrame, m: Long)

  def prepareUndirected(edges: DataFrame, srcCol: String, dstCol: String): UndirectedGraph = {
    val raw = canonical(edges, srcCol, dstCol).truncateLineage()
    val m = raw.count()
    // every table below holds at most 2m rows: hand the planner that
    // bound, so consumers broadcast a small graph instead of shuffling
    // it first (the checkpoint would keep its plan's join estimate)
    def pinned(df: DataFrame, maxRows: Long): DataFrame =
      org.apache.spark.sql.graft.StatsBridge.withMaxRows(df.truncateLineage(), maxRows)
    val canon = org.apache.spark.sql.graft.StatsBridge.withMaxRows(raw, m)
    // the degree is a window over src: its one shuffle both partitions
    // the adjacency by src and counts every node's neighbors
    val adj = pinned(canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst")))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))), 2 * m)
    val deg = pinned(adj.select(col("src").as("node"), col("deg")).distinct(), 2 * m)
    // Orient by (degree, id): strict total order, so each undirected
    // edge survives in exactly one orientation, pointing at the
    // "heavier" endpoint.
    val orient = pinned(adj
      .join(deg.select(col("node").as("dst"), col("deg").as("dv")), "dst")
      .where(struct(col("deg"), col("src")) < struct(col("dv"), col("dst")))
      .select(col("src").as("u"), col("dst").as("v"), col("dv")), m)
    UndirectedGraph(canon, adj, deg, orient, m)
  }

  /** Canonical undirected edge list: self-loops dropped, both input
    * orientations collapsed onto `a < b`, duplicates removed. Runs
    * only inside [[prepareUndirected]].
    */
  private def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol); val d = col(dstCol)
    edges.where(s =!= d)
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .distinct()
  }

  /** Deterministic hash-driven random walks (the DeepWalk/node2vec
    * sampling primitive without RNG state): one walk starts at every
    * node with id ≡ 0 (mod `seedMod`); at step t the walk at node v
    * moves to neighbor number H(v,t) mod deg(v) of v's id-ordered
    * adjacency list, where H(v,t) = ((v mod P)·1103515245 + t·12345)
    * mod P with P = 2^31−1. Seed-free integer arithmetic only, so
    * walks are reproducible across engines and runs — the DuckDB
    * oracle unrolls the SAME `steps` rounds as chained CTEs and
    * matches bit for bit.
    *
    * Scale shape: the ranked adjacency (the prepared adjacency plus
    * each dst's rank within its src) materializes ONCE per call,
    * partitioned by src; every step is a single
    * walk-front⋈adjacency equi-join on src — the front stays at seed
    * cardinality, never corpus-sized, and the driver loops over
    * STEPS only. The symmetrized edge list guarantees deg ≥ 1 for
    * every visited node, so walks never dead-end.
    *
    * Returns (walk_id, step, node): the step-0 seed row plus one row
    * per step per walk.
    */
  def randomWalks(g: UndirectedGraph, seedMod: Int, steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 50, s"steps must be 1..50, got $steps")
    require(seedMod >= 1, s"seedMod must be >= 1, got $seedMod")
    val P = 2147483647L
    val adj = g.adj
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")).orderBy(col("dst"))))
      .truncateLineage()
    var walks = g.deg.select(col("node"))
      .where(col("node") % seedMod === 0)
      .select(col("node").as("walk_id"), lit(0).as("step"), col("node"))
    var front = walks
    var t = 1
    while (t <= steps) {
      val stepped = front.select(col("walk_id"), col("node").as("src"))
        .join(adj, "src")
        .where(col("rn") ===
          ((col("src") % P) * 1103515245L + t.toLong * 12345L) % P % col("deg") + 1)
        .select(col("walk_id"), lit(t).as("step"), col("dst").as("node"))
      walks = walks.unionByName(stepped)
      front = stepped
      t += 1
    }
    walks
  }

  /** Multi-source BFS hop distances (bounded to `rounds` hops): the
    * shortest-path primitive of the graph family — "how far is every
    * node from the trusted seed set", the hop-count counterpart of
    * [[personalizedPageRank]]'s continuous proximity. Proper
    * FRONTIER-DELTA form: each round expands only the nodes
    * discovered LAST round (frontier ⋈ adjacency → anti-join the
    * settled set), never the whole reached set — per-round work is
    * the frontier's edge boundary, the textbook Pregel BFS shape.
    * Integer hop counts, deterministic by construction; the DuckDB
    * oracle unrolls the SAME rounds as chained CTEs, bit for bit.
    *
    * Returns (node, dist) for nodes within `rounds` hops of a seed;
    * unreached nodes are absent (their distance is unknown, not ∞).
    */
  def bfsDistances(g: UndirectedGraph,
                   seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                   rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds must be 1..50, got $rounds")
    val sym = g.adj
    var dist = g.deg.select(col("node"))
      .where(seedPred(col("node")))
      .select(col("node"), lit(0L).as("dist"))
    var frontier = dist.select(col("node"))
    var r = 1
    while (r <= rounds) {
      val reached = frontier.join(sym, frontier("node") === sym("src"))
        .select(col("dst").as("node")).distinct()
      val fresh = reached.join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("dist"))
      dist = dist.unionByName(fresh)
      frontier = fresh.select(col("node"))
      if (r % 3 == 0 && r < rounds) {
        dist = dist.truncateLineage()
        frontier = frontier.truncateLineage()
      }
      r += 1
    }
    dist
  }

  /** Exact per-node triangle counts via degree orientation (the
    * compact-forward / MR "partitioned wedge" algorithm): orient each
    * undirected edge from the (degree, id)-smaller endpoint to the
    * larger, enumerate wedges only from each node's out-neighborhood,
    * and close them against the oriented edge set. Out-degrees are
    * bounded by O(√m), so total wedge work is O(m^1.5) — the best
    * known for exact enumeration — instead of Σ deg² on the raw
    * adjacency (hub nodes never fan out their full neighborhood).
    *
    * Shuffle profile: the orientation is prepared once
    * ([[UndirectedGraph]]), so per call only the wedge step runs; its
    * closing join runs at WEDGE cardinality — O(m^1.5) rows hashed on
    * (x, y) — and dominates at scale; the
    * orientation bound is exactly what keeps that wedge stream from
    * degenerating to Σ deg² on hub nodes. Counts are exact integers,
    * so any engine enumerating the same undirected graph (the oracle
    * uses the simpler id-ordered a<b<c form — same triangle set)
    * matches bit for bit.
    *
    * Returns (node, n_triangles) for every node on ≥1 triangle.
    */
  def triangleCounts(g: UndirectedGraph): DataFrame = {
    val orient = g.orient
    // Wedges from each pivot u: unordered out-neighbor pairs, emitted
    // in (degree, id) order so the closing edge is oriented x → y.
    val o1 = orient.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val o2 = orient.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = o1.join(o2, Seq("u"))
      .where(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
      .select(col("u"), col("x"), col("y"))
    val tris = wedges.join(
      orient.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    tris.select(col("u").as("node"))
      .unionByName(tris.select(col("x").as("node")))
      .unionByName(tris.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core peeling, a FIXED number of rounds: each round recomputes
    * degrees over the surviving subgraph and drops every node with
    * degree < k (and its edges). The round count is part of the
    * contract — every step is an integer degree count and a filter,
    * so an engine unrolling the same R rounds (the DuckDB oracle, as
    * chained CTEs) reproduces the surviving (node, degree) set
    * exactly. The FINAL degree pass re-filters to `d >= k`, so every
    * returned node satisfies the k-core degree bound even when
    * peeling has not converged within R rounds (its reported
    * `core_degree` is its degree in the last surviving subgraph —
    * an upper bound on its true core degree until fixpoint; on a
    * graph that converges within R rounds the result IS the k-core).
    *
    * Scale: R rounds × (degree agg + semi-join back onto edges) —
    * edge-cardinality shuffles, driver loops over ROUNDS only.
    * Lineage is truncated periodically like [[pageRank]].
    */
  def kCore(g: UndirectedGraph, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 50,
      s"need k >= 1, 1 <= rounds <= 50; got k=$k rounds=$rounds")
    var cur = g.canon
    var r = 0
    while (r < rounds) {
      val deg = cur.select(col("a").as("n"))
        .unionByName(cur.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.where(col("d") >= k).select(col("n"))
      cur = cur
        .join(keep.select(col("n").as("a")), Seq("a"), "leftsemi")
        .join(keep.select(col("n").as("b")), Seq("b"), "leftsemi")
        .select(col("a"), col("b"))
      if ((r + 1) % 3 == 0 && r + 1 < rounds) cur = cur.truncateLineage()
      r += 1
    }
    cur.select(col("a").as("n")).unionByName(cur.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("core_degree"))
      // the last peel round may have dropped neighbors AFTER this
      // node's degree was checked — never hand back a node that no
      // longer meets the bound (the footgun a fixed-round contract
      // would otherwise ship).
      .where(col("core_degree") >= k)
  }

  /** Synchronous label propagation, a FIXED number of rounds —
    * community detection for corpus curation (cluster sources /
    * co-purchase neighborhoods into communities finer than connected
    * components, which collapse any touching clusters into one blob).
    *
    * Every node starts labeled with its own id; each round every node
    * simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label. Counts are exact
    * integers and the tie-break is total, so the whole iteration is
    * deterministic and an engine unrolling the same R rounds (the
    * DuckDB oracle, as chained CTEs) matches bit for bit. Synchronous
    * updates can oscillate on bipartite structure (the classic LPA
    * caveat — a star flips center/leaf labels each round); the fixed
    * round count is part of the contract and pins which phase is
    * returned, and the spec asserts that behavior rather than hiding
    * it.
    *
    * Scale: R rounds × (edge⋈label join at edge cardinality +
    * (node, label)-keyed count + per-node `max_by` argmax) — every
    * stage partitions by node and both aggregations map-side combine;
    * the argmax rides the count agg's output (≤ per-node NDV rows),
    * never a window sort. Every round joins against the prepared
    * symmetric adjacency; labels stay node-cardinality.
    * Driver loops over ROUNDS only; lineage truncates periodically
    * like [[pageRank]].
    */
  def labelPropagation(g: UndirectedGraph, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds must be 1..50, got $rounds")
    val e = g.adj
    // every non-isolated node appears as src in the symmetric
    // adjacency, so the per-round join needs no outer branch
    var labels = g.deg.select(col("node"), col("node").as("label"))
    var r = 0
    while (r < rounds) {
      val counted = e
        .join(labels.select(col("node").as("src"), col("label")), "src")
        .select(col("dst").as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("c"))
      // (max count, min label) winner as a max_by over the struct
      // (c, -label): labels are distinct per node after the count agg,
      // so the comparison key is total and the pick deterministic
      labels = counted.groupBy("node")
        .agg(max_by(col("label"), struct(col("c"), (-col("label")).as("nl")))
          .as("label"))
      if ((r + 1) % 3 == 0 && r + 1 < rounds)
        labels = labels.truncateLineage()
      r += 1
    }
    labels
  }

  /** Link prediction over an undirected graph: score NON-edges by
    * common-neighbor count, fixed-point Jaccard, and Adamic-Adar
    * (per-middle weight floor(1e6/log2(deg)) — log2 quantized once
    * per DISTINCT degree so the sum is an order-free BIGINT; middles
    * always have deg >= 2 so the weight is finite). Existing edges
    * are anti-joined out; candidates need >= 1 common neighbor;
    * top-`topK` under the total (cn desc, aa desc, x, y) order.
    *
    * Wedge enumeration is Σ deg(v)² over MIDDLE vertices — fine on
    * support-thresholded graphs, quadratic in the hubs of a raw
    * crawl. `maxMiddleDegree` caps it: middles above the cap are
    * dropped BEFORE the self-join, bounding per-middle wedge work at
    * cap² while their endpoints still appear in every wedge that
    * routes through a sane middle (hub middles carry ~zero AA weight
    * — 1e6/log2(deg) → 0 — and inflate cn with noise, so the cap is
    * the curation-standard recall trade; GraphRankSpec pins both the
    * exclusion and the survival of non-hub wedges). Degrees for the
    * Jaccard denominator stay UNCAPPED — the cap changes which
    * wedges enumerate, never a node's true degree.
    *
    * Scale: the degrees ride the prepared adjacency, so per call one
    * (middle-keyed) self-join at Σ min(deg, cap)² wedge cardinality,
    * one pair agg, one anti-join — all key-shuffled, nothing
    * driver-side.
    */
  def linkPrediction(g: UndirectedGraph, topK: Int,
                     maxMiddleDegree: Option[Long] = None): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxMiddleDegree.forall(_ >= 2),
      s"maxMiddleDegree below 2 excludes every possible middle")
    val middles = maxMiddleDegree
      .map(cap => g.adj.where(col("deg") <= cap)).getOrElse(g.adj)
    // deg-1 leaves can never be the middle of a wedge (they have a
    // single neighbor), so their weight is unread — but it must not
    // EVALUATE as 1/log2(1) under ANSI division
    val e = middles
      .select(col("src").as("v"), col("dst").as("n"),
        when(col("deg") >= 2,
          floor(lit(1000000.0) / log2(col("deg"))).cast("long"))
          .otherwise(lit(0L)).as("w"))
    // every surviving group has cn >= 1 by construction (it exists
    // because at least one wedge produced it) — no threshold filter
    val cand = e.as("p").join(e.as("q"),
        col("p.v") === col("q.v") && col("p.n") < col("q.n"))
      .groupBy(col("p.n").as("x"), col("q.n").as("y"))
      .agg(count(lit(1)).as("cn"), sum(col("p.w")).as("aa_x1e6"))
      .join(g.canon.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
    cand
      .join(g.deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(g.deg.select(col("node").as("y"), col("deg").as("dy")), "y")
      .withColumn("jacc_x1e6", expr("(cn * 1000000) div (dx + dy - cn)"))
      .select(col("x"), col("y"), col("cn"), col("jacc_x1e6"), col("aa_x1e6"))
      .orderBy(col("cn").desc, col("aa_x1e6").desc, col("x"), col("y"))
      .limit(topK)
  }
}
