package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Geo
import graft.operators.GeoOps

/** Join operators (SURVEY §2.3 J1-J8), each with a DuckDB oracle.
  * Broadcast hints are explicit wherever one side is dimension-sized,
  * so the physical plan is BroadcastHashJoin rather than a shuffle.
  */
object JoinQueries {

  type Q = (SparkSession, String) => DataFrame

  private def cityObjs = Fixtures.cities.map {
    case (id, n, la, lo, tz) => GeoOps.City(id, n, la, lo, tz)
  }

  /** Shared oracle for both nearest-city forms. Ranks by the UNROUNDED
    * distance exactly like the Spark kernels (identical double formula
    * on both engines; the fixture's min best-vs-2nd gap of 0.087 km
    * dwarfs any cross-engine libm ulp) — ties broken by city_id.
    */
  private val nearestCityOracle: String =
    s"""WITH ${Fixtures.citiesCte}, ${Fixtures.geoEventsCte}
       |SELECT event_id, city_id, city_name FROM (
       |  SELECT e.event_id, c.city_id, c.city_name,
       |    row_number() OVER (
       |      PARTITION BY e.event_id
       |      ORDER BY ${Geo.haversineSql("e.lat", "e.lon", "c.city_lat", "c.city_lon")} ASC,
       |        c.city_id ASC) AS rn
       |  FROM geo_events e CROSS JOIN cities c
       |) WHERE rn = 1""".stripMargin

  val queries: Map[String, Q] = Map(
    // J1+W1 (parity plan): cross join dict + row_number argmin.
    "j1_cross_nearest_city" -> ((spark, dir) => {
      GeoOps.tagNearestCityWindowed(
        Fixtures.geoEvents(spark, dir), Fixtures.citiesDF(spark),
        col("lat"), col("lon"), col("event_id"))
        .select(col("event_id"), col("city_id"), col("city_name"))
    }),

    // Same semantics, scale plan: literal-array argmin, zero shuffle.
    "geo_nearest_city_minby" -> ((spark, dir) => {
      GeoOps.tagNearestCity(
        Fixtures.geoEvents(spark, dir), cityObjs, col("lat"), col("lon"))
        .select(col("event_id"), col("city_id"), col("city_name"))
    }),

    // J2: left equi join onto a broadcast dimension, with null fill.
    "j2_left_join" -> ((spark, dir) => {
      val richCust = Tables.customer(spark, dir)
        .where(col("c_acctbal") > 8000)
        .select(col("c_custkey"), col("c_mktsegment"))
      Tables.orders(spark, dir)
        .join(broadcast(richCust), col("o_custkey") === col("c_custkey"), "left")
        .na.fill(Map("c_mktsegment" -> "NONE"))
        .select(col("o_orderkey"), col("c_mktsegment").as("segment"))
    }),

    // J3: multi-way equi join (fact → dim → dim) + aggregation.
    "j3_multiway_join" -> ((spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          // MoneyFx exact grid: per-segment sums cover ~1/5 of lineitem,
          // where naive double summation order diverged at the 10x gate
          graft.functions.MoneyFx.sumDiscPrice(
            col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // J4: inner join of two aggregates on a composite key.
    "j4_composite_key_join" -> ((spark, dir) => {
      val ev = Tables.events(spark, dir)
        .withColumn("week", date_trunc("week", col("ts")).cast("date"))
      val counts = ev.groupBy("week", "event_type").agg(count(lit(1)).as("n"))
      val vals = ev.groupBy("week", "event_type").agg(round(sum("value"), 4).as("total_value"))
      counts.join(vals, Seq("week", "event_type"))
        .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
          col("event_type"), col("n"), col("total_value"))
    }),

    // J5: self join generating user pairs sharing event_types
    // (reference's channel co-subscriber pairs, collector.py:1000-1008).
    // Strategy is CHOSEN BY CARDINALITY (operators/PairStrategy): a
    // broadcast set-intersect theta join while the per-user table fits
    // (dense keys — the quadratic output is intrinsic, so avoiding the
    // post-agg shuffle wins), flipping to the per-key equi-join + count
    // once users outgrow the broadcast bound. PairStrategySpec pins
    // that both regimes produce this exact relation.
    "j5_self_join_pairs" -> ((spark, dir) => {
      val ue = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type")).distinct()
      graft.operators.PairStrategy.sharedKeyPairs(ue, "user_id", "event_type")
        .select(col("left").as("left_user"), col("right").as("right_user"),
          col("shared").as("shared_types"))
    }),

    // J6: left anti join — customers with no order above 400k.
    "j6_anti_join" -> ((spark, dir) => {
      val bigOrders = Tables.orders(spark, dir)
        .where(col("o_totalprice") > 400000)
      Tables.customer(spark, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
    }),

    // Left semi join — customers having at least one order.
    "j7_semi_join" -> ((spark, dir) => {
      Tables.customer(spark, dir)
        .join(Tables.orders(spark, dir),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey").as("custkey"))
    }),

    // Range join (non-equi): band each event's value against a tiny
    // banding dimension ON lo <= value < hi. Broadcast nested loop is
    // exactly right here — the bands table is rows-countable; with a
    // LARGE band table the scale path is aligned-width bucketing
    // (floor(value/width)) turning it into an equi join.
    "j9_range_join" -> ((spark, dir) => {
      import spark.implicits._
      val bands = Seq(
        (0.0, 40.0, "low"), (40.0, 80.0, "mid"),
        (80.0, 120.0, "high"), (120.0, 1e9, "extreme"))
        .toDF("lo", "hi", "band")
      Tables.events(spark, dir)
        .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
    }),

    // Null-safe equi join (<=>): null keys MATCH null keys — the
    // semantics `=` silently drops. Both sides pre-aggregated to
    // key-cardinality, so the null-key bucket joins 1×1 instead of
    // exploding row×row.
    "j11_nullsafe_join" -> ((spark, dir) => {
      val ev = Tables.events(spark, dir)
        .withColumn("k", expr("nullif(pmod(user_id, 10), 0)"))
      val a = ev.where(col("event_id") % 2 === 0)
        .groupBy("k").agg(count(lit(1)).as("n_even"))
      val b = ev.where(col("event_id") % 2 === 1)
        .groupBy(col("k").as("kb")).agg(count(lit(1)).as("n_odd"))
      a.join(b, col("k") <=> col("kb"))
        .select(col("k"), col("n_even"), col("n_odd"))
    }),

    // As-of join (backward): each event picks the user's most recent
    // order on-or-before the event time — union+carry single-shuffle
    // plan (graft.operators.AsofJoin), oracled by DuckDB's native
    // ASOF LEFT JOIN.
    "j10_asof_join" -> ((spark, dir) => {
      // as-of probes need a probe TIME: Spark's union+carry yields the
      // honest left-outer null for a null ts, but DuckDB's ASOF
      // deviates from its own predicate and matches the LATEST
      // version — exclude timestamp-less probes on both sides
      val ev = Tables.events(spark, dir)
        .where(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"))
      // (key, time) made unique on the right: one row per customer-day.
      val ord = Tables.orders(spark, dir)
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(count(lit(1)).as("n_day_orders"),
          round(max("o_totalprice"), 4).as("max_price"))
        .withColumn("o_ts", col("o_orderdate").cast("timestamp"))
        .withColumn("order_date", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      graft.operators.AsofJoin.backward(ev, ord,
        key = "user_id", leftTime = "ts", rightTime = "o_ts",
        payloadCols = Seq("order_date", "n_day_orders", "max_price"))
        .select(col("event_id"), col("user_id"),
          col("order_date").as("last_order_date"),
          col("n_day_orders"), col("max_price"))
    }),

    // Grid-blocked proximity pairs — the 100 TB path for the
    // friend-recs distance step: pair GENERATION is pruned to
    // same-or-adjacent grid cells (linear for bounded densities), the
    // exact haversine filter then runs only on candidates. Oracle is
    // the naive all-pairs filter — results must be identical.
    "geo_blocked_pairs" -> ((spark, dir) => {
      val pts = Fixtures.geoEvents(spark, dir)
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("lat"), col("lon")), struct(col("ts"), col("event_id"))).as("b"))
        .select(col("user_id"), col("b.lat").as("lat"), col("b.lon").as("lon"))
      graft.operators.GeoBlocking.pairsWithinKm(
        pts, "user_id", "lat", "lon", maxKm = 120.0, minCosLat = 0.71)
    }),

    // Salted equi-join on the SKEWED low-cardinality key (event_type,
    // ~5 values): the hot key fans out across 8 salt partitions while
    // the dimension side replicates 8×. Output equals the plain join
    // (oracle-checked); Skew.salt is deterministic, never rand().
    "skew_salted_join" -> ((spark, dir) => {
      val ev = Tables.events(spark, dir)
      val typeStats = ev.groupBy("event_type")
        .agg(round(avg("value"), 4).as("type_avg"))
      graft.operators.Skew.saltedJoin(ev, typeStats, Seq("event_type"),
        leftId = "event_id", saltFactor = 8)
        .withColumn("dev", round(col("value") - col("type_avg"), 4))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(max(col("dev")), 4).as("max_dev"))
    }),

    // Full outer join of two per-user aggregates (beyond-reference op).
    "j8_full_outer_join" -> ((spark, dir) => {
      val ev = Tables.events(spark, dir)
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
      val buys = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n_buys"))
      clicks.join(buys, Seq("user_id"), "full_outer")
        .na.fill(0, Seq("n_clicks", "n_buys"))
        .select(col("user_id"), col("n_clicks"), col("n_buys"))
    }),

    // Co-located join over tables bucketed AT REST on the join key —
    // the storage-side half of the 100 TB join strategy: both scans
    // read pre-shuffled bucket files, so the SortMergeJoin plans with
    // ZERO exchange below it (PlanSpec pins it). The bucketed layout
    // is written once per session into the warehouse dir; at lake
    // scale this is the nightly table layout, not a query-time step.
    "bucketed_join_colocated" -> ((spark, dir) => {
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      // a fresh session's in-memory catalog doesn't know tables a
      // previous JVM left in the warehouse dir — clear the stale
      // location before re-creating, or CTAS fails LOCATION_EXISTS
      def bucketed(table: String, df: DataFrame, key: String): Unit =
        if (!spark.catalog.tableExists(table)) {
          val wh = new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
          wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(wh, true)
          df.write.bucketBy(16, key).sortBy(key)
            .mode("overwrite").saveAsTable(table)
        }
      val liT = s"graft_li_bkt_$sfx"
      val oT = s"graft_o_bkt_$sfx"
      bucketed(liT, Tables.lineitem(spark, dir), "l_orderkey")
      bucketed(oT, Tables.orders(spark, dir), "o_orderkey")
      // hint("merge") pins the SortMergeJoin path: without it the
      // fixture-sized orders side broadcasts and the bucketed layout
      // is never exercised (at lake scale SMJ is what AQE picks anyway)
      spark.table(liT)
        // finite-measure guard: one NaN quantity makes the sum NaN and
        // the BIGINT cast ABORTS under ANSI (CAST_OVERFLOW); the count
        // keeps every joined row — only the quantity sum is finite-only.
        // Fixed-point per-ROW quantization (floor(q·100) before the
        // sum): a fractional-double SUM cast to BIGINT truncates on
        // Spark but rounds on DuckDB, and its shuffle accumulation
        // order isn't stable — the integral centi-quantity sum is
        // order-free and engine-exact at any magnitude.
        .join(spark.table(oT).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(!isnan(col("l_quantity")) &&
              abs(col("l_quantity")) =!= Double.PositiveInfinity,
            floor(col("l_quantity") * 100).cast("long")))
            .as("sum_qty_x100"))
    }),

    // Blocked fuzzy entity matching: near-identical customer records
    // within (nation, segment) blocks at edit distance <= 1 — the
    // structured-data record-linkage twin of document near-dup
    // detection. Registered engine is the BANDED form (pigeonhole
    // segment equi-join — candidates only, never block-quadratic);
    // at maxDist 1 its hamming semantics coincide exactly with
    // levenshtein <= 1 on equal-length records, and ErSpec pins
    // equality with the quadratic reference form. The auto segment
    // count (omit-k-of-8 keys) keeps the high-entropy name tail in
    // every band key, so the constant "Customer#" prefix no longer
    // degenerates one band into a block-sized hot bucket.
    "er_fuzzy_pairs" -> ((spark, dir) => {
      import graft.operators.EntityResolution
      EntityResolution.bandedHammingPairs(
        Tables.customer(spark, dir), "c_custkey", "c_name",
        Seq("c_nationkey", "c_mktsegment"), maxDist = 1)
    }),

    // Full edit-distance matching at maxDist 2 over a fixture with
    // PLANTED insert/delete/double-substitution variants — the indel
    // regime the Hamming band is blind to by construction. Engine is
    // the PassJoin shifted-segment form (candidate-complete for
    // levenshtein <= k at any k); the oracle replays the quadratic
    // levenshtein join over the identical SQL-derived fixture.
    "er_fuzzy_pairs_k2" -> ((spark, dir) => {
      import graft.operators.EntityResolution
      EntityResolution.passJoinPairs(
        erIndelFixture(spark, dir), "rid", "nm",
        Seq("c_nationkey", "c_mktsegment"), maxDist = 2)
    }),

    // Integer-exact PageRank over the supplier⇄customer supply graph
    // (supp keys even, cust keys odd, edges both directions): the
    // iterative link-analysis operator a curation pipeline uses to
    // weight sources by citation structure. Fixed-point BIGINT rank
    // mass, `div`-exact updates — the DuckDB oracle unrolls the SAME
    // 5 rounds as chained CTEs and matches bit for bit.
    "graph_pagerank" -> ((spark, dir) => {
      import graft.operators.GraphRank
      GraphRank.pageRank(scRankGraph(spark, dir), iters = 5)
    }),

    // Personalized PageRank over the same supplier–customer graph:
    // teleport mass lands only on the seed suppliers (node % 10 = 0),
    // so ranks measure proximity to the trusted seed set — the
    // link-analysis counterpart of DSIR's content-side weighting.
    // Fixed-point BIGINT throughout; the oracle unrolls the SAME 5
    // rounds with the seed-gated base term and matches bit for bit.
    "graph_ppr" -> ((spark, dir) => {
      import graft.operators.GraphRank
      GraphRank.personalizedPageRank(scRankGraph(spark, dir),
        n => n % 10 === 0, iters = 5)
    }),

    // Exact per-node triangle counts over the part co-purchase graph
    // (parts appearing together in >= 2 distinct orders — the >= 2
    // support threshold keeps the graph sparse where raw co-occurrence
    // is near-complete). Community structure detection for curation:
    // triangle-dense nodes sit in genuine clusters, not hub noise.
    // Counts are exact integers; the oracle enumerates the same
    // undirected graph with the simpler id-ordered a<b<c three-way
    // self-join, so results match bit for bit.
    "graph_triangles" -> ((spark, dir) => {
      import graft.operators.GraphRank
      GraphRank.triangleCounts(coPurchaseGraph(spark, dir))
    }),

    // k-core peeling (k=2, 4 fixed rounds) over the same co-purchase
    // graph: strips low-support tendrils to expose the stable cluster
    // skeleton. The round count is part of the contract — the oracle
    // unrolls the SAME 4 peel rounds as chained CTEs, and the final
    // `core_degree >= k` re-filter guarantees every returned node
    // meets the degree bound even where peeling hasn't converged.
    "graph_kcore" -> ((spark, dir) => {
      import graft.operators.GraphRank
      GraphRank.kCore(coPurchaseGraph(spark, dir), k = KcoreK, rounds = KcoreRounds)
    }),

    // Link prediction over the co-purchase graph: score NON-edges by
    // common-neighbor count, fixed-point Jaccard, and Adamic-Adar —
    // GraphRank.linkPrediction. Wedge enumeration is Σ deg(v)² over
    // middle vertices — kept sane here by coPurchaseGraph's RELATIVE
    // support threshold (density is scale-stable by construction), so
    // the raw-crawl hub cap (maxMiddleDegree) stays disengaged and
    // the oracle replays the FULL wedge set; the cap's exclusion
    // semantics are spec-pinned in GraphRankSpec.
    "graph_link_prediction" -> ((spark, dir) => {
      import graft.operators.GraphRank
      GraphRank.linkPrediction(coPurchaseGraph(spark, dir), topK = 30,
        maxMiddleDegree = None)
    }),

    // Market-basket association rules (support/confidence/lift — the
    // a-priori first round): distinct (order, part) items, id-ordered
    // within-basket pairs at RELATIVE support max(2, nBaskets div
    // 75000) — support as a fraction of baskets, the a-priori
    // definition (the same scale rule as coPurchaseGraph: an absolute
    // count threshold on a statistic whose expectation grows with
    // basket volume stops filtering at scale; here the candidate SET
    // is bounded by catalog² either way, but the rule set itself
    // should be scale-stable, and at 10× the relative form reproduces
    // the sf0.1 rules exactly). Confidence and lift in integer fixed
    // point: staged integral divisions ((c_xy·1e6 div c_ant)·N div
    // c_cons) so no intermediate exceeds ~1e16 even at 1e10 baskets —
    // the oracle mirrors the same order. Scale: pair work is Σ
    // basket² (baskets are order-sized, bounded), both count tables
    // are map-side combinable, only the top-20 rules leave the
    // cluster.
    "basket_association_rules" -> ((spark, dir) => {
      import graft.core.GraftSession.LineageOps
      // materialized once: four consumers (basket count, the item
      // count table, and BOTH self-join sides) otherwise re-run the
      // lineitem scan + distinct each — the self-join's exchanges are
      // keyed on ok alone, so the distinct's (ok, pk) exchange is
      // never reused across them.
      // NEGATIVE RESULT (r17, measured): collapsing this to
      // groupBy(ok).collect_set(pk) + a HOF pair explode (one shuffle,
      // no join) benched 1.21 → 1.53 s — collect_set forces
      // ObjectHashAggregate and higher-order-function lambdas are
      // CodegenFallback, losing more per-row than the codegen'd
      // broadcast-probe pair generation costs; reverted (the bm25
      // HOF lesson, r16)
      val items = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .truncateLineage()
      val nBaskets = items.select("ok").distinct().count() // scalar, pre-plan
      val minSup = math.max(2L, nBaskets / 75000L)
      val cx = items.groupBy(col("pk")).agg(count(lit(1)).as("c"))
      items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("ant"), col("y.pk").as("cons"))
        .agg(count(lit(1)).as("c_xy"))
        .where(col("c_xy") >= minSup)
        .join(cx.select(col("pk").as("ant"), col("c").as("c_ant")), "ant")
        .join(cx.select(col("pk").as("cons"), col("c").as("c_cons")), "cons")
        .withColumn("conf_x1e6", expr("(c_xy * 1000000) div c_ant"))
        .withColumn("lift_x1e6",
          expr(s"(((c_xy * 1000000) div c_ant) * ${nBaskets}L) div c_cons"))
        .select(col("ant"), col("cons"), col("c_xy"),
          col("conf_x1e6"), col("lift_x1e6"))
        .orderBy(col("lift_x1e6").desc, col("ant"), col("cons"))
        .limit(20)
    }),

    // Deterministic hash-driven random walks (4 steps, seeds ≡ 0 mod
    // 5) over the co-purchase graph — the DeepWalk/node2vec corpus
    // sampler as a batch operator. H(v,t) picks the neighbor index,
    // so walks are pure integer arithmetic and the oracle unrolls the
    // SAME 4 steps as chained CTEs, bit for bit.
    "graph_random_walks" -> ((spark, dir) => {
      import graft.operators.GraphRank
      GraphRank.randomWalks(coPurchaseGraph(spark, dir),
        seedMod = RwSeedMod, steps = RwSteps)
    }),

    // Modularity audit of the label-propagation partition — the
    // quality score community detection is judged by (Newman Q).
    // Per community: intra-edge count, degree sum, and the Q
    // contribution in STAGED fixed-point ppm — a = (1e6·D_c) div
    // (2m) ≤ 1e6, deg term = a² div 1e6 — so nothing DOWNSTREAM of
    // the divisions exceeds ~1e12 at any graph size (the naive
    // 4m·L − D² form overflows BIGINT past ~3e9-degree communities).
    // The ·1e6 numerators themselves still grow with the graph
    // (intra_edges ≤ m, deg_sum ≤ 2m → past BIGINT at ~1e13 edges),
    // so those two products run 128-bit; their quotients are ≤ 2e6.
    // One edge pass + one node pass over the converged labels.
    "graph_modularity" -> ((spark, dir) => {
      import graft.operators.GraphRank
      import graft.core.GraftSession.LineageOps
      // the prepared graph feeds the label rounds (adjacency), the
      // intra pass (canonical edges) and the degree pass, all already
      // checkpointed; labels feed two joins, so they are pinned once.
      val g = coPurchaseGraph(spark, dir)
      val labels = GraphRank.labelPropagation(g, rounds = LpaRounds)
        .truncateLineage()
      val m = g.m
      val withA = g.canon
        .join(labels.select(col("node").as("a"), col("label").as("la")), "a")
        .join(labels.select(col("node").as("b"), col("label").as("lb")), "b")
      val intra = withA.where(col("la") === col("lb"))
        .groupBy(col("la").as("label"))
        .agg(count(lit(1)).as("intra_edges"))
      val comm = labels.join(g.deg, "node")
        .groupBy("label")
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
      comm.join(intra, Seq("label"), "left")
        .select(col("label"), col("n_nodes"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          col("deg_sum"))
        .withColumn("intra_ppm",
          expr(s"(CAST(intra_edges AS DECIMAL(38,0)) * 1000000) div ${m}L"))
        .withColumn("__a",
          expr(s"(CAST(deg_sum AS DECIMAL(38,0)) * 1000000) div ${2 * m}L"))
        .withColumn("contrib_ppm",
          expr("intra_ppm - (__a * __a) div 1000000"))
        .drop("__a")
    }),

    // Multi-source BFS hop distances (4 rounds, seeds ≡ 0 mod 10)
    // over the co-purchase graph: frontier-delta expansion only —
    // per-round work is the frontier's edge boundary, never the
    // settled set. The oracle unrolls the SAME rounds, bit for bit.
    "graph_bfs_distances" -> ((spark, dir) => {
      import graft.operators.GraphRank
      GraphRank.bfsDistances(coPurchaseGraph(spark, dir),
        n => n % 10 === 0, rounds = 4)
    }),

    // Synchronous label propagation (3 fixed rounds) over the same
    // co-purchase graph: community detection finer than connected
    // components — touching clusters keep distinct labels instead of
    // merging into one blob. Deterministic by construction (integer
    // counts, smallest-label tie-break), so the oracle unrolls the
    // SAME 3 rounds as chained CTEs and matches bit for bit.
    "graph_labelprop" -> ((spark, dir) => {
      import graft.operators.GraphRank
      GraphRank.labelPropagation(coPurchaseGraph(spark, dir), rounds = LpaRounds)
    }),

    // Runtime bloom-filter join pruning: the non-broadcastable-dim
    // scale case (here modeled with an explicit shuffle_hash hint —
    // broadcast would hide the exchange the bloom exists to shrink).
    // A pre-pass builds a bloom over the selective dim's keys; the
    // codegen'd probe drops ~90% of lineitem AT THE SCAN, before the
    // exchange; the join then discards the bloom's false positives, so
    // the result is exactly the plain join the oracle runs. At 100 TB
    // the filter is ~1.2 MB per million keys (task-shippable at any
    // dim size) and the shuffle carries matches + fpp·non-matches
    // instead of the whole fact table.
    "join_bloom_pruned" -> ((spark, dir) => {
      import graft.operators.BloomJoin
      // modulo keeps the dim 10%-selective at every SF (an acctbal
      // threshold's selectivity drifts across the fixtures' scales)
      val dim = Tables.supplier(spark, dir).where(col("s_suppkey") % 10 === 0)
      val bloom = BloomJoin.buildBloom(dim, "s_suppkey", expectedItems = 4096)
      BloomJoin.pruneFact(Tables.lineitem(spark, dir), "l_suppkey", bloom)
        .join(dim.hint("shuffle_hash"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        // fixed-point finite-only sum (the bucketed_join_colocated
        // pattern): NaN would abort the BIGINT cast under ANSI, and a
        // fractional-double sum truncates vs rounds across engines
        .agg(count(lit(1)).as("n_items"),
          sum(when(!isnan(col("l_quantity")) &&
              abs(col("l_quantity")) =!= Double.PositiveInfinity,
            floor(col("l_quantity") * 100).cast("long")))
            .as("sum_qty_x100"))
    })
  )

  private val KcoreK = 2
  private val KcoreRounds = 4
  private val LpaRounds = 3
  private val RwSeedMod = 5
  private val RwSteps = 4

  /** Part co-purchase edges: id-ordered part pairs whose co-occurrence
    * meets RELATIVE support `max(2, nBaskets div 75000)` — support as
    * a fraction of baskets, the a-priori-standard definition. The
    * round-14 10× relational gate showed why an absolute `c >= 2`
    * is a scale bug: basket count grows with the corpus while the
    * part catalog stays fixed, so expected pair co-occurrence grows
    * LINEARLY and a fixed threshold saturates — at 10× the graph went
    * 3.9k → 1.2M edges (max degree 10 → 222) and every downstream
    * wedge/triangle enumeration inherited a ~25,000× blowup. The
    * relative threshold keeps graph DENSITY scale-stable (at 10× it
    * reproduces the sf0.1 edge set exactly); at sf0.1 and below it
    * evaluates to the original 2, so gate-tier results are unchanged.
    * nBaskets is a single-row pre-plan aggregate (the
    * basket_association_rules pattern), never a corpus collect, and
    * it runs only inside the memoized graph build below, so the seven
    * graph queries that share this helper pay it once per build.
    * The order-key equi-join runs at lineitem cardinality; the
    * group-by collapses to pair cardinality before any graph work,
    * and [[graft.operators.GraphRank.prepareUndirected]] turns the
    * pairs into the canonical edges, adjacency, degrees and
    * orientation every consumer reads. */
  // Seven graph queries consume the prepared co-purchase graph and two
  // more consume the supplier⇄customer ranking artifacts; the gate and
  // the bench run them all in ONE process, so the materialized
  // artifacts are memoized on their input tables' stamps — the
  // quadratic basket self-join, the canonicalization, the degree
  // aggregate, the orientation and the ranking loops' eDeg/nodes
  // checkpoints are paid once per session and input snapshot, not once
  // per query. Key and replacement semantics: [[graft.core.ArtifactMemo]].
  private val coPurchaseMemo =
    new graft.core.ArtifactMemo[graft.operators.GraphRank.UndirectedGraph]
  private val scGraphMemo =
    new graft.core.ArtifactMemo[graft.operators.GraphRank.PreparedGraph]

  private def coPurchaseGraph(spark: org.apache.spark.sql.SparkSession,
                              dir: String): graft.operators.GraphRank.UndirectedGraph =
    coPurchaseMemo.get(spark, Seq(Tables.path(dir, "lineitem"))) {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"))
      val nBaskets = li.select("l_orderkey").distinct().count() // scalar, pre-plan
      val minSup = math.max(2L, nBaskets / 75000L)
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .agg(count(lit(1)).as("c"))
        .where(col("c") >= minSup)
      graft.operators.GraphRank.prepareUndirected(pairs, "a", "b")
    }

  /** The supplier⇄customer ranking graph's prepared artifacts
    * (edge+degree pre-partitioned, node table, node count), shared by
    * graph_pagerank and graph_ppr.
    */
  private def scRankGraph(spark: org.apache.spark.sql.SparkSession,
                          dir: String): graft.operators.GraphRank.PreparedGraph =
    scGraphMemo.get(spark, Seq(Tables.path(dir, "lineitem"), Tables.path(dir, "orders"))) {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
      val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      val sc = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("a"), (col("o_custkey") * 2 + 1).as("b"))
      val edges = sc.unionByName(sc.select(col("b").as("a"), col("a").as("b")))
      graft.operators.GraphRank.prepare(edges, "a", "b")
    }

  /** Indel fixture for er_fuzzy_pairs_k2: every 17th customer plus
    * ONE planted variant each — an insertion, a deletion, or an
    * adjacent double substitution selected by c_custkey % 3. Both
    * engines derive it from the same substr/concat arithmetic over
    * the customer table, so the fixture is bit-identical and the
    * oracle can replay the quadratic levenshtein join over it.
    */
  private def erIndelFixture(spark: SparkSession, dir: String): DataFrame = {
    // r17 (§2.4): ONE scan emits each base record plus its (at most
    // one) planted variant via a per-row array explode — the former
    // 4-way union re-scanned customer once per branch. The CASE
    // branches are mutually exclusive, so the row multiset is
    // identical to the old orig ∪ ins ∪ del ∪ sub2 union (the oracle
    // replays the union form over the same arithmetic and matches).
    Tables.customer(spark, dir)
      .where(col("c_custkey") % 17 === 0)
      .selectExpr("c_custkey * 4 AS rid", "c_name AS nm",
        "c_nationkey", "c_mktsegment",
        "c_custkey AS ck", "length(c_name) AS ln")
      .select(expr(
        """explode(filter(array(
          |  named_struct('rid', rid, 'nm', nm),
          |  CASE
          |    WHEN ck % 3 = 0 THEN named_struct('rid', rid + 1,
          |      'nm', substr(nm, 1, cast(ck % (ln + 1) AS INT)) || 'x' ||
          |            substr(nm, cast(ck % (ln + 1) AS INT) + 1))
          |    WHEN ck % 3 = 1 AND ln >= 1 THEN named_struct('rid', rid + 2,
          |      'nm', substr(nm, 1, cast(ck % ln AS INT)) ||
          |            substr(nm, cast(ck % ln AS INT) + 2))
          |    WHEN ck % 3 = 2 AND ln >= 2 THEN named_struct('rid', rid + 3,
          |      'nm', substr(nm, 1, cast(ck % (ln - 1) AS INT)) || 'xy' ||
          |            substr(nm, cast(ck % (ln - 1) AS INT) + 3))
          |  END),
          |  x -> x IS NOT NULL)) AS e""".stripMargin),
        col("c_nationkey"), col("c_mktsegment"))
      .select(col("e.rid"), col("e.nm"), col("c_nationkey"), col("c_mktsegment"))
  }

  val oracles: Map[String, String] = Map(
    "j1_cross_nearest_city" -> nearestCityOracle,
    "geo_nearest_city_minby" -> nearestCityOracle,

    "bucketed_join_colocated" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CASE WHEN isfinite(l_quantity)
        |           THEN CAST(floor(l_quantity * 100) AS BIGINT) END)
        |       AS BIGINT) AS sum_qty_x100
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "j11_nullsafe_join" ->
      """WITH e AS (
        |  SELECT event_id, nullif(user_id % 10, 0) AS k FROM events
        |), a AS (
        |  SELECT k, count(*) AS n_even FROM e WHERE event_id % 2 = 0 GROUP BY 1
        |), b AS (
        |  SELECT k AS kb, count(*) AS n_odd FROM e WHERE event_id % 2 = 1 GROUP BY 1
        |)
        |SELECT a.k, n_even, n_odd
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.kb""".stripMargin,

    "j2_left_join" ->
      """SELECT o_orderkey, coalesce(c_mktsegment, 'NONE') AS segment
        |FROM orders LEFT JOIN (
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 8000
        |) rich ON o_custkey = rich.c_custkey""".stripMargin,

    "j3_multiway_join" ->
      """SELECT c_mktsegment,
        |  round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))) / 10000.0, 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "j4_composite_key_join" ->
      """WITH ev AS (
        |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week, event_type, value
        |  FROM events
        |), counts AS (
        |  SELECT week, event_type, count(*) AS n FROM ev GROUP BY 1, 2
        |), vals AS (
        |  SELECT week, event_type, round(sum(value), 4) AS total_value FROM ev GROUP BY 1, 2
        |)
        |SELECT counts.week, counts.event_type, n, total_value
        |FROM counts JOIN vals USING (week, event_type)""".stripMargin,

    "j5_self_join_pairs" ->
      """WITH ue AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT l.user_id AS left_user, r.user_id AS right_user, count(*) AS shared_types
        |FROM ue l JOIN ue r ON l.event_type = r.event_type AND l.user_id < r.user_id
        |GROUP BY 1, 2""".stripMargin,

    "j6_anti_join" ->
      """SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin,

    "j7_semi_join" ->
      """SELECT c_custkey AS custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "j9_range_join" ->
      """WITH bands(lo, hi, band) AS (VALUES
        |  (0.0, 40.0, 'low'), (40.0, 80.0, 'mid'),
        |  (80.0, 120.0, 'high'), (120.0, 1000000000.0, 'extreme'))
        |SELECT band, count(*) AS n, round(sum(value), 4) AS total
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY 1""".stripMargin,

    "j10_asof_join" ->
      """WITH ord AS (
        |  SELECT o_custkey AS user_id, o_orderdate,
        |    CAST(o_orderdate AS TIMESTAMP) AS o_ts,
        |    strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |    count(*) AS n_day_orders, round(max(o_totalprice), 4) AS max_price
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT e.event_id, e.user_id, o.order_date AS last_order_date,
        |  o.n_day_orders, o.max_price
        |FROM events e ASOF LEFT JOIN ord o
        |  ON e.user_id = o.user_id AND e.ts >= o.o_ts
        |WHERE e.ts IS NOT NULL""".stripMargin,

    "geo_blocked_pairs" -> {
      s"""WITH ${Fixtures.geoEventsCte},
         |pts AS (
         |  SELECT user_id, lat, lon FROM (
         |    SELECT user_id, lat, lon, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM geo_events
         |  ) WHERE rn = 1)
         |SELECT a.user_id AS id_a, b.user_id AS id_b,
         |  round(${graft.functions.Geo.haversineSql("a.lat", "a.lon", "b.lat", "b.lon")}, 4) AS dist_km
         |FROM pts a JOIN pts b ON a.user_id < b.user_id
         |WHERE ${graft.functions.Geo.haversineSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 120.0""".stripMargin
    },

    "skew_salted_join" ->
      """WITH ts AS (
        |  SELECT event_type, round(avg(value), 4) AS type_avg
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_type, count(*) AS n,
        |  round(max(round(e.value - ts.type_avg, 4)), 4) AS max_dev
        |FROM events e JOIN ts USING (event_type)
        |GROUP BY 1""".stripMargin,

    "j8_full_outer_join" ->
      """WITH clicks AS (
        |  SELECT user_id, count(*) AS n_clicks FROM events WHERE event_type = 'click' GROUP BY 1
        |), buys AS (
        |  SELECT user_id, count(*) AS n_buys FROM events WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT coalesce(clicks.user_id, buys.user_id) AS user_id,
        |  coalesce(n_clicks, 0) AS n_clicks, coalesce(n_buys, 0) AS n_buys
        |FROM clicks FULL OUTER JOIN buys ON clicks.user_id = buys.user_id""".stripMargin,

    "graph_pagerank" -> pagerankSql,
    "graph_ppr" -> pprSql,
    "graph_triangles" -> trianglesSql,
    "graph_kcore" -> kcoreSql,
    "graph_random_walks" -> randomWalksSql,
    "graph_bfs_distances" -> bfsSql,
    "graph_modularity" -> modularitySql,
    // Same wedge enumeration, per-distinct-degree AA quantization,
    // and (cn, aa, x, y) total order.
    "graph_link_prediction" ->
      s"""WITH $coPurchaseCte, sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM pp
         |  UNION ALL SELECT b, a FROM pp
         |), deg AS MATERIALIZED (
         |  SELECT src, count(*) AS deg FROM sym GROUP BY 1
         |), e AS MATERIALIZED (
         |  SELECT s.src AS v, s.dst AS n,
         |    CASE WHEN d.deg >= 2
         |         THEN CAST(floor(1000000.0 / log2(d.deg)) AS BIGINT)
         |         ELSE 0 END AS w
         |  FROM sym s JOIN deg d ON s.src = d.src
         |), cand AS (
         |  SELECT p.n AS x, q.n AS y,
         |    CAST(count(*) AS BIGINT) AS cn,
         |    CAST(sum(p.w) AS BIGINT) AS aa_x1e6
         |  FROM e p JOIN e q ON p.v = q.v AND p.n < q.n
         |  GROUP BY 1, 2 HAVING count(*) >= 1
         |), nonedge AS (
         |  SELECT c.* FROM cand c
         |  LEFT JOIN pp ON c.x = pp.a AND c.y = pp.b
         |  WHERE pp.a IS NULL
         |)
         |SELECT ne.x, ne.y, ne.cn,
         |  CAST((ne.cn * 1000000) // (dx.deg + dy.deg - ne.cn) AS BIGINT)
         |    AS jacc_x1e6,
         |  ne.aa_x1e6
         |FROM nonedge ne
         |JOIN deg dx ON ne.x = dx.src
         |JOIN deg dy ON ne.y = dy.src
         |ORDER BY cn DESC, aa_x1e6 DESC, x, y LIMIT 30""".stripMargin,

    // Same staged integral divisions, same (lift desc, ant, cons)
    // total order on the top-20.
    "basket_association_rules" ->
      """WITH items AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), nb AS (
        |  SELECT count(DISTINCT ok) AS n FROM items
        |), cx AS (
        |  SELECT pk, count(*) AS c FROM items GROUP BY 1
        |), p AS (
        |  SELECT x.pk AS ant, y.pk AS cons, count(*) AS c_xy
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2
        |  HAVING count(*) >= greatest(2, (SELECT n FROM nb) // 75000)
        |)
        |SELECT ant, cons, CAST(c_xy AS BIGINT) AS c_xy,
        |  CAST((c_xy * 1000000) // a.c AS BIGINT) AS conf_x1e6,
        |  CAST((((c_xy * 1000000) // a.c) * (SELECT n FROM nb)) // b.c
        |    AS BIGINT) AS lift_x1e6
        |FROM p JOIN cx a ON p.ant = a.pk JOIN cx b ON p.cons = b.pk
        |ORDER BY lift_x1e6 DESC, ant, cons LIMIT 20""".stripMargin,
    "graph_labelprop" -> labelpropSql,

    "er_fuzzy_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND a.c_mktsegment = b.c_mktsegment
        |  AND a.c_custkey < b.c_custkey
        |-- EQUAL length, not ±1: the engine is banded HAMMING — a
        |-- substitution-only distance defined on same-length records;
        |-- an insertion pair (lev 1, lengths differing by 1) is outside
        |-- its semantics by construction (the fixture's fixed-width
        |-- names made the two relations coincide; fuzz names don't)
        |WHERE length(a.c_name) = length(b.c_name)
        |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    // Quadratic replay of the SAME SQL-derived indel fixture the
    // engine hands to passJoinPairs — full levenshtein <= 2, so the
    // oracle sees every insert/delete-shifted pair the banded Hamming
    // form is blind to. The length-difference bound mirrors the
    // engine's own prune (|len a − len b| > k can never pass).
    "er_fuzzy_pairs_k2" ->
      """WITH base AS (
        |  SELECT c_custkey * 4 AS rid, c_name AS nm,
        |         c_nationkey, c_mktsegment,
        |         c_custkey AS ck, length(c_name) AS ln
        |  FROM customer WHERE c_custkey % 17 = 0
        |), fixture AS (
        |  SELECT rid, nm, c_nationkey, c_mktsegment FROM base
        |  UNION ALL
        |  SELECT rid + 1, substr(nm, 1, CAST(ck % (ln + 1) AS INT)) || 'x'
        |         || substr(nm, CAST(ck % (ln + 1) AS INT) + 1),
        |         c_nationkey, c_mktsegment
        |  FROM base WHERE ck % 3 = 0
        |  UNION ALL
        |  SELECT rid + 2, substr(nm, 1, CAST(ck % ln AS INT))
        |         || substr(nm, CAST(ck % ln AS INT) + 2),
        |         c_nationkey, c_mktsegment
        |  FROM base WHERE ck % 3 = 1 AND ln >= 1
        |  UNION ALL
        |  SELECT rid + 3, substr(nm, 1, CAST(ck % (ln - 1) AS INT)) || 'xy'
        |         || substr(nm, CAST(ck % (ln - 1) AS INT) + 3),
        |         c_nationkey, c_mktsegment
        |  FROM base WHERE ck % 3 = 2 AND ln >= 2
        |)
        |SELECT a.rid AS id_a, b.rid AS id_b,
        |       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM fixture a JOIN fixture b
        |  ON a.c_nationkey = b.c_nationkey
        | AND a.c_mktsegment = b.c_mktsegment
        | AND a.rid < b.rid
        |WHERE abs(length(a.nm) - length(b.nm)) <= 2
        |  AND levenshtein(a.nm, b.nm) <= 2""".stripMargin,

    // Bloom pruning is invisible to semantics (no false negatives +
    // the join re-verifies), so the oracle is the plain equi-join.
    "join_bloom_pruned" ->
      """SELECT s.s_name,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CASE WHEN isfinite(l.l_quantity)
        |           THEN CAST(floor(l.l_quantity * 100) AS BIGINT) END)
        |       AS BIGINT) AS sum_qty_x100
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_suppkey % 10 = 0
        |GROUP BY s.s_name""".stripMargin
  )

  // Generated twin of GraphRank.pageRank: the same 5 damped rounds
  // unrolled as chained CTEs, every step in integral arithmetic
  // (`//` on positives == Spark's `div`), so ranks match bit for bit.
  private lazy val pagerankSql: String = {
    val iters = 5
    val scale = graft.operators.GraphRank.Scale
    val head =
      s"""WITH sc AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), e AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM sc
         |  UNION ALL SELECT b, a FROM sc
         |), deg AS MATERIALIZED (
         |  SELECT src, count(*) AS deg FROM e GROUP BY 1
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
         |  )
         |), np AS MATERIALIZED (SELECT count(*) AS n FROM nodes
         |), r0 AS (
         |  SELECT node,
         |    CAST($scale // (SELECT n FROM np) AS BIGINT) AS rank
         |  FROM nodes
         |)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""", r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    CAST((15 * ($scale // (SELECT n FROM np))) // 100
         |      + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank // deg.deg) AS s
         |    FROM e JOIN deg ON e.src = deg.src
         |    JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY 1
         |  ) c ON nodes.node = c.node
         |)""".stripMargin
    }.mkString
    head + rounds + s"\nSELECT node, rank FROM r$iters"
  }

  // Generated twin of GraphRank.personalizedPageRank: the pagerank
  // chain with the base term gated to the seed set and split
  // integrally across it — ((15·Scale)//100)//|S|, mirroring the
  // Scala composition order exactly.
  private lazy val pprSql: String = {
    val iters = 5
    val scale = graft.operators.GraphRank.Scale
    val head =
      s"""WITH sc AS MATERIALIZED (
         |  SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), e AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM sc
         |  UNION ALL SELECT b, a FROM sc
         |), deg AS MATERIALIZED (
         |  SELECT src, count(*) AS deg FROM e GROUP BY 1
         |), nodes AS MATERIALIZED (
         |  SELECT node, node % 10 = 0 AS seed FROM (
         |    SELECT DISTINCT node FROM (
         |      SELECT src AS node FROM e UNION ALL SELECT dst FROM e
         |    )
         |  )
         |), np AS MATERIALIZED (SELECT count(*) AS n FROM nodes
         |), sp AS MATERIALIZED (SELECT count(*) AS ns FROM nodes WHERE seed
         |), r0 AS (
         |  SELECT node,
         |    CAST($scale // (SELECT n FROM np) AS BIGINT) AS rank
         |  FROM nodes
         |)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""", r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    CAST(CASE WHEN nodes.seed
         |           THEN ((15 * $scale) // 100) // (SELECT ns FROM sp)
         |           ELSE 0 END
         |      + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank // deg.deg) AS s
         |    FROM e JOIN deg ON e.src = deg.src
         |    JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY 1
         |  ) c ON nodes.node = c.node
         |)""".stripMargin
    }.mkString
    head + rounds + s"\nSELECT node, rank FROM r$iters"
  }

  // Shared edge CTE for the graph-family oracles: id-ordered part
  // pairs at RELATIVE support max(2, nBaskets div 75000), mirroring
  // coPurchaseGraph's pairs exactly (the group-by makes pairs distinct; the
  // scalar subquery mirrors the engine's pre-plan basket count).
  // Name-parameterized because modularitySql needs a second copy in
  // a scope where labelpropSql already binds `pp` — every copy MUST
  // come from here so the support threshold can never fork (a
  // hand-inlined `>= 2` twin is exactly how the round-14 relative-
  // support fix briefly broke graph_modularity at the 10× tier).
  private def coPurchaseCteNamed(name: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= greatest(2,
       |    (SELECT count(DISTINCT l_orderkey) FROM lineitem) // 75000)
       |)""".stripMargin
  private lazy val coPurchaseCte: String = coPurchaseCteNamed("pp")

  // Twin of GraphRank.triangleCounts: the oracle enumerates each
  // triangle once via the id-ordered a<b<c three-way self-join (edges
  // are already canonical a<b), then unions the three corners — the
  // same triangle set the degree-oriented engine closes.
  private lazy val trianglesSql: String =
    s"""WITH $coPurchaseCte, tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM pp e1
       |  JOIN pp e2 ON e1.b = e2.a
       |  JOIN pp e3 ON e3.a = e1.a AND e3.b = e2.b
       |)
       |SELECT node, count(*) AS n_triangles
       |FROM (
       |  SELECT x AS node FROM tri
       |  UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri
       |)
       |GROUP BY 1""".stripMargin

  // Generated twin of GraphRank.kCore: the same fixed peel rounds
  // unrolled as chained CTEs (degree >= k keep-set, semi-join back
  // onto edges), with the final >= k re-filter on the last degrees.
  private lazy val kcoreSql: String = {
    val k = KcoreK
    val rounds = (1 to KcoreRounds).map { i =>
      s""", k$i AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}
         |  ) GROUP BY n HAVING count(*) >= $k
         |), e$i AS MATERIALIZED (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i)
         |)""".stripMargin
    }.mkString
    s"""WITH $coPurchaseCte, e0 AS MATERIALIZED (SELECT a, b FROM pp)$rounds
       |SELECT n, count(*) AS core_degree
       |FROM (
       |  SELECT a AS n FROM e$KcoreRounds UNION ALL SELECT b FROM e$KcoreRounds
       |)
       |GROUP BY 1 HAVING count(*) >= $k""".stripMargin
  }

  // Modularity over the SAME converged labelprop partition: the
  // label CTE chain nests the labelpropSql query verbatim, then one
  // edge pass (intra counts) + one node pass (degree sums) + the
  // same staged ppm arithmetic.
  private lazy val modularitySql: String =
    s"""WITH lab AS MATERIALIZED (
       |  SELECT node, label FROM ($labelpropSql)
       |), ${coPurchaseCteNamed("pp2")}, m AS (
       |  SELECT count(*) AS m FROM pp2
       |), intra AS (
       |  SELECT la.label, count(*) AS intra_edges
       |  FROM pp2
       |  JOIN lab la ON pp2.a = la.node
       |  JOIN lab lb ON pp2.b = lb.node
       |  WHERE la.label = lb.label GROUP BY 1
       |), degs AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT a AS node FROM pp2 UNION ALL SELECT b FROM pp2
       |  ) GROUP BY 1
       |), comm AS (
       |  SELECT label, count(*) AS n_nodes, sum(deg) AS deg_sum
       |  FROM lab JOIN degs USING (node) GROUP BY 1
       |)
       |SELECT label, CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(coalesce(intra_edges, 0) AS BIGINT) AS intra_edges,
       |  CAST(deg_sum AS BIGINT) AS deg_sum,
       |  CAST((coalesce(intra_edges, 0)::HUGEINT * 1000000) // (SELECT m FROM m)
       |    AS BIGINT) AS intra_ppm,
       |  CAST((coalesce(intra_edges, 0)::HUGEINT * 1000000) // (SELECT m FROM m)
       |    - (((deg_sum * 1000000) // (SELECT 2 * m FROM m))
       |       * ((deg_sum * 1000000) // (SELECT 2 * m FROM m))) // 1000000
       |    AS BIGINT) AS contrib_ppm
       |FROM comm LEFT JOIN intra USING (label)""".stripMargin

  // Generated twin of GraphRank.bfsDistances: same frontier-delta
  // rounds — neighbors of last round's frontier, minus everything
  // already settled, at distance r.
  private lazy val bfsSql: String = {
    val rounds = (1 to 4).map { i =>
      s""", f$i AS MATERIALIZED (
         |  SELECT DISTINCT s.dst AS node
         |  FROM f${i - 1} f JOIN sym s ON f.node = s.src
         |  WHERE s.dst NOT IN (SELECT node FROM d${i - 1})
         |), d$i AS MATERIALIZED (
         |  SELECT node, dist FROM d${i - 1}
         |  UNION ALL SELECT node, $i FROM f$i
         |)""".stripMargin
    }.mkString
    s"""WITH $coPurchaseCte, sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM pp
       |  UNION ALL SELECT b, a FROM pp
       |), d0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, 0 AS dist FROM sym WHERE src % 10 = 0
       |), f0 AS MATERIALIZED (SELECT node FROM d0)$rounds
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin
  }

  // Generated twin of GraphRank.randomWalks: the same id-ordered
  // ranked adjacency, the same seed-free multiplicative hash
  // H(v,t) = ((v % P)·1103515245 + t·12345) % P picking neighbor
  // H % deg + 1, unrolled one chained CTE per step. All BIGINT
  // arithmetic (max intermediate ≈ 2^62), so both engines agree
  // exactly.
  private lazy val randomWalksSql: String = {
    val steps = (1 to RwSteps).map { t =>
      s""", w$t AS MATERIALIZED (
         |  SELECT w.walk_id, $t AS step, a.dst AS node
         |  FROM w${t - 1} w JOIN adj a ON a.src = w.node
         |   AND a.rn = (((w.node % 2147483647) * 1103515245
         |                + $t * 12345) % 2147483647) % a.deg + 1
         |)""".stripMargin
    }.mkString
    val unions = (0 to RwSteps).map(i => s"SELECT * FROM w$i").mkString(" UNION ALL ")
    s"""WITH $coPurchaseCte, sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM pp
       |  UNION ALL SELECT b, a FROM pp
       |), adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM sym
       |), w0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS walk_id, 0 AS step, src AS node
       |  FROM sym WHERE src % $RwSeedMod = 0
       |)$steps
       |SELECT walk_id, CAST(step AS INT) AS step, node FROM ($unions)""".stripMargin
  }

  // Twin of GraphRank.labelPropagation: the same R synchronous rounds
  // unrolled as chained CTEs — per round, count each node's neighbor
  // labels and keep the (max count, min label) winner. Integer counts
  // + a total tie-break make every round bit-deterministic.
  private lazy val labelpropSql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s""", l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT s.dst AS node, l.label, count(*) AS c,
         |      row_number() OVER (
         |        PARTITION BY s.dst
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM sym s JOIN l${i - 1} l ON s.src = l.node
         |    GROUP BY s.dst, l.label
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString
    s"""WITH $coPurchaseCte, sym AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM pp
       |  UNION ALL SELECT b, a FROM pp
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM sym
       |)$rounds
       |SELECT node, label FROM l$LpaRounds""".stripMargin
  }
}
