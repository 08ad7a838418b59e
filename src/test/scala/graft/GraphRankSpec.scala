package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphRank

class GraphRankSpec extends SparkSpec {

  private def undirected(edges: org.apache.spark.sql.DataFrame): GraphRank.UndirectedGraph =
    GraphRank.prepareUndirected(edges, "a", "b")

  test("symmetric ring: all nodes converge to equal rank") {
    import spark.implicits._
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val edges = ring.unionByName(ring.select(col("b").as("a"), col("a").as("b")))
    val ranks = GraphRank.pageRank(edges, "a", "b", iters = 5)
      .collect().map(_.getLong(1)).toSeq
    assert(ranks.size === 3)
    assert(ranks.distinct.size === 1, s"ring ranks must be equal, got $ranks")
  }

  test("star graph: the hub outranks every leaf; mass is conserved up to div truncation") {
    import spark.implicits._
    val spokes = (1L to 10L).map(i => (0L, i)).toDF("a", "b")
    val edges = spokes.unionByName(spokes.select(col("b").as("a"), col("a").as("b")))
    val ranks = GraphRank.pageRank(edges, "a", "b", iters = 5)
    val hub = ranks.where(col("node") === 0L).head().getLong(1)
    val maxLeaf = ranks.where(col("node") =!= 0L)
      .agg(max(col("rank"))).head().getLong(0)
    assert(hub > maxLeaf)
    // no dangling nodes in a symmetrized graph: total mass stays
    // within integer-truncation distance of 1.0
    val total = ranks.agg(sum(col("rank"))).head().getLong(0)
    assert(total <= GraphRank.Scale)
    assert(total >= GraphRank.Scale - 10000000L,
      s"lost more than truncation can explain: $total")
  }

  test("triangleCounts: K4 gives every node C(3,2)=3 triangles") {
    import spark.implicits._
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)).toDF("a", "b")
    val got = GraphRank.triangleCounts(undirected(k4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: canonicalizes orientation/dups/self-loops; pendants excluded") {
    import spark.implicits._
    // one triangle {1,2,3} fed as a mix of orientations + a duplicate
    // + a self-loop + a pendant edge 3-4: only the triangle's corners
    // may appear, each on exactly one triangle.
    val messy = Seq(
      (1L, 2L), (2L, 1L), (3L, 2L), (1L, 3L), (3L, 3L), (3L, 4L)
    ).toDF("a", "b")
    val got = GraphRank.triangleCounts(undirected(messy))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: two triangles sharing an edge count the shared corners twice") {
    import spark.implicits._
    // {1,2,3} and {2,3,4} share edge 2-3: nodes 2,3 are on 2 triangles
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val got = GraphRank.triangleCounts(undirected(e))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("kCore: converged peel returns the exact 2-core, tendrils stripped") {
    import spark.implicits._
    // K4 core with a pendant chain 4-5-6 hanging off node 4: the
    // 2-core is exactly the K4, reached within 2 rounds.
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val e = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    val got = GraphRank.kCore(undirected(e), k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: round-limited peel re-filters nodes the last round under-cut") {
    import spark.implicits._
    // chain 1-2-3-4-5 with k=2: round 1 drops the endpoints, leaving
    // 2-3, 3-4 where nodes 2 and 4 now have degree 1 < k. The final
    // re-filter must drop them — only node 3 (degree 2 in the last
    // surviving subgraph) may be returned.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val g = undirected(chain)
    val oneRound = GraphRank.kCore(g, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneRound === Map(3L -> 2L))
    // at fixpoint the 2-core of a chain is empty
    val converged = GraphRank.kCore(g, k = 2, rounds = 4)
    assert(converged.isEmpty)
  }

  test("kCore: guards on k and round bounds") {
    import spark.implicits._
    val g = undirected(Seq((1L, 2L)).toDF("a", "b"))
    intercept[IllegalArgumentException] {
      GraphRank.kCore(g, k = 0, rounds = 3)
    }
    intercept[IllegalArgumentException] {
      GraphRank.kCore(g, k = 2, rounds = 0)
    }
  }

  test("labelPropagation: disjoint cliques converge to distinct min-id labels") {
    import spark.implicits._
    // two disjoint triangles: round 1 hands each node a neighbor's id,
    // round 2 settles both cliques on their min member id
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val got = GraphRank.labelPropagation(undirected(e), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: finer than components — touching cliques keep distinct labels") {
    import spark.implicits._
    // two K4s bridged by one edge (4-5): connected components would
    // return ONE blob; LPA keeps a label per clique (the bridge is
    // outvoted 3-to-1 inside each clique)
    val k4a = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val k4b = for { a <- 5L to 8L; b <- 5L to 8L if a < b } yield (a, b)
    val e = (k4a ++ k4b ++ Seq((4L, 5L))).toDF("a", "b")
    val got = GraphRank.labelPropagation(undirected(e), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.filterKeys(_ <= 4L).values.toSet.size === 1)
    assert(got.filterKeys(_ >= 5L).values.toSet.size === 1)
    assert(got(1L) !== got(8L), s"cliques must keep distinct labels: $got")
  }

  test("labelPropagation: synchronous oscillation on a star is phase-deterministic") {
    import spark.implicits._
    // star 0-{1..5} is bipartite: center and leaves swap label sets
    // each round. The fixed round count pins the phase — that's the
    // documented contract, not a bug to paper over.
    val star = undirected((1L to 5L).map(i => (0L, i)).toDF("a", "b"))
    val r2 = GraphRank.labelPropagation(star, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r3 = GraphRank.labelPropagation(star, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // even phase: center holds the min leaf's prior label path (0),
    // leaves hold the center's (1); odd phase flips
    assert(r2 === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    assert(r3 === Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
    // and re-running the same round count reproduces bit for bit
    val r2b = GraphRank.labelPropagation(star, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2b === r2)
  }

  test("labelPropagation: canonicalizes orientation/dups/self-loops like the rest of the family") {
    import spark.implicits._
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val a = GraphRank.labelPropagation(undirected(messy), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphRank.labelPropagation(undirected(clean), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("randomWalks: every transition is a graph edge, fronts never dead-end, runs reproduce") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a triangle 10-11-12: mixed degrees incl. deg-1 ends
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val w = GraphRank.randomWalks(undirected(e), seedMod = 1, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val seeds = w.filter(_._2 == 0).map(_._3).toSet
    assert(seeds === Set(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L))
    // each walk has exactly steps+1 rows, consecutive steps 0..4
    w.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (0 to 4), s"walk $id malformed")
    }
    // every consecutive (node -> next) pair is an undirected edge
    val edgeSet = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    w.groupBy(_._1).foreach { case (id, rows) =>
      rows.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, u), (_, _, v)) =>
          assert(edgeSet.contains((u, v)), s"walk $id used non-edge $u->$v")
        case _ =>
      }
    }
    // deterministic: a second run reproduces bit for bit
    val w2 = GraphRank.randomWalks(undirected(e), seedMod = 1, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(w.sorted.toSeq === w2.sorted.toSeq)
  }

  test("bfsDistances: exact hops on a path, round bound truncates, min over multiple seeds") {
    import spark.implicits._
    // path 0-1-2-3-4-5-6, plus detached pair 100-101; seeds {0, 100}
    val e = (Seq((100L, 101L)) ++ (0L to 5L).map(i => (i, i + 1))).toDF("a", "b")
    val d = GraphRank.bfsDistances(undirected(e), n => n === 0L || n === 100L,
      rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(0L) === 0L && d(1L) === 1L && d(4L) === 4L)
    assert(!d.contains(5L) && !d.contains(6L), "beyond the round bound must be absent")
    assert(d(100L) === 0L && d(101L) === 1L)
    // two seeds on one component: distance is the MIN over seeds
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L)).toDF("a", "b")
    val dr = GraphRank.bfsDistances(undirected(ring), n => n === 0L || n === 3L,
      rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dr === Map(0L -> 0L, 3L -> 0L, 1L -> 1L, 4L -> 1L, 2L -> 1L))
  }

  test("guards: iteration bounds and empty graph rejected") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      GraphRank.pageRank(e, "a", "b", iters = 0)
    }
    intercept[IllegalArgumentException] {
      GraphRank.pageRank(e.where(lit(false)), "a", "b", iters = 3)
    }
  }

  test("personalized PageRank: mass concentrates near the seed; detached cluster decays to 0") {
    import spark.implicits._
    // seed star {0 ↔ 1..4} plus a detached pair {100 ↔ 101}: the pair
    // gets no teleport mass, so its rank follows the exact integer
    // recurrence x' = (85·x) div 100 from x0 = Scale/7 — geometric
    // decay toward 0, computable exactly driver-side; the seed hub
    // outranks its leaves.
    val star = (1L to 4L).map(i => (0L, i))
    val edges = (star ++ Seq((100L, 101L))).toDF("a", "b")
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
    val iters = 12
    val got = GraphRank.personalizedPageRank(sym, "a", "b",
      n => n === 0L, iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) > got(1L), s"seed hub must outrank leaves: $got")
    assert(got(1L) > 0L)
    var detached = GraphRank.Scale / 7L
    (1 to iters).foreach(_ => detached = (85L * detached) / 100L)
    assert(got(100L) === detached && got(101L) === detached,
      s"detached pair must follow the exact 0.85-decay recurrence ($detached): $got")
    assert(got(100L) < got(1L), s"no-teleport nodes must rank below seed-fed leaves: $got")
    // leaves are symmetric: identical ranks
    assert(Seq(got(1L), got(2L), got(3L), got(4L)).distinct.size === 1)
  }

  test("reliable-checkpoint mode produces identical ranks and writes checkpoint files") {
    import spark.implicits._
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("a", "b")
    val edges = ring.unionByName(ring.select(col("b").as("a"), col("a").as("b")))
    val localMode = GraphRank.pageRank(edges, "a", "b", iters = 6)
      .collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = GraphRank.pageRank(edges, "a", "b", iters = 6)
        .collect().map(_.toSeq).toSet
      assert(reliable === localMode)
      // the reliable path actually wrote checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
    } finally {
      // clear so other suites keep the zero-config local path
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("personalized PageRank: requires a non-empty seed set") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      GraphRank.personalizedPageRank(e, "a", "b", _ => lit(false), iters = 3)
    }
  }

  test("linkPrediction: maxMiddleDegree excludes hub wedges, keeps the rest") {
    import spark.implicits._
    // hub 100 touches every leaf (deg 10); the only sane middle is
    // node 2 (deg 3: hub, 1, 3)
    val edges = ((1L to 10L).map(l => (100L, l)) ++ Seq((1L, 2L), (2L, 3L)))
      .toDF("a", "b")
    val g = undirected(edges)
    val full = GraphRank.linkPrediction(g, topK = 100)
    val capped = GraphRank.linkPrediction(g, topK = 100,
      maxMiddleDegree = Some(5L))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (fullPairs, cappedPairs) = (pairs(full), pairs(capped))
    // leaves 4 and 5 share ONLY the hub: their wedge is hub-routed
    // and must vanish under the cap
    assert(fullPairs.contains((4L, 5L)) && !cappedPairs.contains((4L, 5L)))
    // the (1, 3) wedge routes through middle 2 (deg 3 <= cap): kept
    assert(cappedPairs.contains((1L, 3L)))
    assert(cappedPairs.subsetOf(fullPairs), "cap may only shrink the candidate set")
    val r13 = capped.where(col("x") === 1 && col("y") === 3).collect().head
    // hub removed from the common-neighbor count...
    assert(r13.getAs[Long]("cn") === 1L)
    // ...but Jaccard denominators keep TRUE degrees (both 2):
    // 1e6 div (2 + 2 - 1)
    assert(r13.getAs[Long]("jacc_x1e6") === 333333L)
    intercept[IllegalArgumentException] {
      GraphRank.linkPrediction(g, topK = 5, maxMiddleDegree = Some(1L))
    }
  }

  test("prepareUndirected: a messy edge list prepares the same graph as the clean one") {
    import spark.implicits._
    // triangle {1,2,3}, a 4-cycle closing through 2-4-5-3 and a
    // pendant 5-6: triangles, wedge candidates, a peeled node and
    // more than one label
    val cleanEdges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 5L), (4L, 5L), (5L, 6L))
    val messyEdges = cleanEdges.flatMap { case (a, b) => Seq((b, a), (a, b), (b, a)) } ++
      Seq((1L, 1L), (4L, 4L), (6L, 6L))
    val clean = undirected(cleanEdges.toDF("a", "b"))
    val messy = undirected(messyEdges.toDF("a", "b"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(messy.m === clean.m)
    for ((name, op) <- Seq[(String, GraphRank.UndirectedGraph => org.apache.spark.sql.DataFrame)](
        "triangleCounts" -> (g => GraphRank.triangleCounts(g)),
        "linkPrediction" -> (g => GraphRank.linkPrediction(g, topK = 50)),
        "kCore" -> (g => GraphRank.kCore(g, k = 2, rounds = 3)),
        "labelPropagation" -> (g => GraphRank.labelPropagation(g, rounds = 3)))) {
      val want = rows(op(clean))
      assert(want.nonEmpty, s"$name: the fixture must exercise the operator")
      assert(rows(op(messy)) === want, name)
    }
  }
}
