package graft

import org.apache.spark.sql.functions._
import graft.operators.Clustering

class ClusteringSpec extends SparkSpec {

  private def mkPoints(vecs: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    vecs.toDF("vec_id", "embedding")
  }

  /** Naive driver-side twin of kmeansFixedPoint: same quantization,
    * same id-ordered seed, same integer argmin/update — an independent
    * single-threaded reimplementation the distributed operator must
    * match exactly on any input.
    */
  private def naiveKmeans(vecs: Seq[(Long, Seq[Float])], k: Int,
                          rounds: Int): Map[Long, (Long, Long)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 10000d).toLong).toArray
    }.sortBy(_._1)
    var cents: Array[Array[Long]] = q.take(k).map(_._2.clone()).toArray
    def sq(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def assign(): Map[Long, (Long, Long)] = q.map { case (id, v) =>
      val scored = cents.zipWithIndex.map { case (c, j) => (sq(v, c), j.toLong) }
      val w = scored.min
      id -> (w._2, w._1)
    }.toMap
    (1 to rounds).foreach { _ =>
      val a = assign()
      val next = cents.map(_.clone())
      a.groupBy(_._2._1).foreach { case (cid, members) =>
        val ids = members.keys.toSeq
        val dim = q.head._2.length
        val s = new Array[Long](dim)
        ids.foreach { id =>
          val v = q.find(_._1 == id).get._2
          var i = 0; while (i < dim) { s(i) += v(i); i += 1 }
        }
        next(cid.toInt) = s.map(x => x / ids.size) // Java / truncates toward zero, same as div
      }
      cents = next
    }
    assign()
  }

  test("matches a naive single-threaded reimplementation on random input") {
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 60L).map { id =>
      id -> Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val got = Clustering.kmeansFixedPoint(mkPoints(vecs), "vec_id", "embedding",
      k = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === naiveKmeans(vecs, k = 4, rounds = 3))
  }

  test("every vector is assigned exactly once; qdist is the true argmin distance") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map { id =>
      id -> Seq.fill(4)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val out = Clustering.kmeansFixedPoint(mkPoints(vecs), "vec_id", "embedding",
      k = 3, rounds = 2)
    assert(out.count() === 40L)
    assert(out.select("vec_id").distinct().count() === 40L)
    assert(out.where(col("cluster") < 0 || col("cluster") >= 3).count() === 0L)
  }

  test("a cluster that loses all points keeps its previous centroid (no crash, no NaN)") {
    // seeds are ids 0 and 1; id 1's seed sits far away with no mass
    // around it, so after round 1 every point (including id 1) joins
    // cluster 0 and cluster 1 goes empty — the retained centroid must
    // keep the iteration total and the final assignment single-cluster.
    val vecs: Seq[(Long, Seq[Float])] =
      Seq(0L -> Seq(0f, 0f), 1L -> Seq(10f, 10f)) ++
        (2L until 12L).map(i => i -> Seq(0.01f * i, -0.01f * i): (Long, Seq[Float]))
    val got = Clustering.kmeansFixedPoint(mkPoints(vecs), "vec_id", "embedding",
      k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === naiveKmeans(vecs, k = 2, rounds = 3))
    // the far seed still wins its own point back (it IS the retained centroid)
    assert(got(1L)._1 === 1L)
    assert(got.count(_._2._1 == 0L) === 11)
  }

  /** Naive single-threaded farthest-first twin of kCenterSelect. */
  private def naiveKCenter(vecs: Seq[(Long, Seq[Float])], k: Int): Map[Long, (Long, Long)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 10000d).toLong).toArray
    }.sortBy(_._1)
    def sq(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var cents = Vector(q.head)
    while (cents.size < k) {
      // max min-distance, ties to the LOWEST id
      val next = q.map { case (id, v) =>
        (cents.map(c => sq(v, c._2)).min, id)
      }.reduceLeft { (a, b) =>
        if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a
      }
      cents :+= q.find(_._1 == next._2).get
    }
    q.map { case (id, v) =>
      val w = cents.map(c => (sq(v, c._2), c._1)).min
      id -> (w._2, w._1)
    }.toMap
  }

  test("kCenterSelect matches the naive farthest-first twin on random input") {
    val rnd = new scala.util.Random(21)
    val vecs = (0L until 70L).map { id =>
      id -> Seq.fill(6)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val got = Clustering.kCenterSelect(mkPoints(vecs), "vec_id", "embedding", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === naiveKCenter(vecs, k = 5))
  }

  test("kCenterSelect: centers self-assign at distance 0; far outlier is always picked") {
    val vecs: Seq[(Long, Seq[Float])] =
      (0L until 20L).map(i => i -> Seq(0.001f * i, 0f): (Long, Seq[Float])) :+
        (99L -> Seq(50f, 50f): (Long, Seq[Float]))
    val got = Clustering.kCenterSelect(mkPoints(vecs), "vec_id", "embedding", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the outlier must be selected (it is the farthest point from seed 0)
    assert(got(99L) === (99L, 0L))
    // seed 0 self-assigns
    assert(got(0L) === (0L, 0L))
    // every point assigns to one of exactly 3 centers
    assert(got.values.map(_._1).toSet.size === 3)
  }

  test("semanticDedup: planted near-dups collapse transitively; lowest id survives") {
    // two tight groups plus isolated points: {0,1,2} chain by small
    // perturbation (0~1, 1~2 and 0~2 all above tau), {5,6} a pair,
    // the rest spread out below tau of everything
    val base = Seq(1f, 0.5f, -0.25f, 0.8f)
    def jitter(eps: Float) = base.zipWithIndex.map { case (x, i) => x + eps * (i + 1) }
    val vecs: Seq[(Long, Seq[Float])] = Seq(
      0L -> jitter(0f), 1L -> jitter(0.001f), 2L -> jitter(0.002f),
      5L -> Seq(-1f, 0.7f, 0.3f, -0.9f), 6L -> Seq(-1.01f, 0.71f, 0.29f, -0.91f),
      7L -> Seq(0.9f, -0.9f, 0.9f, -0.9f), 8L -> Seq(-0.2f, -0.9f, 0.1f, 0.95f)
    )
    val got = Clustering.semanticDedup(mkPoints(vecs), "vec_id", "embedding",
      k = 2, rounds = 2, tau = 0.999)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got(0L) === (0L, true))
    assert(got(1L) === (0L, false))
    assert(got(2L) === (0L, false))
    assert(got(5L)._1 === 5L)
    assert(got(6L) === (5L, false))
    // unpaired vectors are their own canon and kept
    assert(got(7L) === (7L, true))
    assert(got(8L) === (8L, true))
    // exactly one survivor per dup group
    assert(got.values.count(_._2) === 4)
  }

  test("kmeansTwoLevel with kc=1 reduces exactly to the flat fit") {
    // one coarse cell ⇒ the fine fit sees the whole corpus with the
    // same id-ordered seeds and update arithmetic as kmeansFixedPoint,
    // so the hierarchy must collapse to the flat result bit for bit
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map { id =>
      id -> Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val flat = Clustering.kmeansFixedPoint(mkPoints(vecs), "vec_id", "embedding",
      k = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val two = Clustering.kmeansTwoLevel(mkPoints(vecs), "vec_id", "embedding",
      kc = 1, kf = 4, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(two.forall(_._2 == 0L), "single coarse cell")
    // cluster = cell·kf + fine = fine here
    assert(two.map(t => t._1 -> (t._4, t._5)).toMap === flat)
    assert(two.forall(t => t._4 == t._2 * 4 + t._3))
  }

  test("kmeansTwoLevel: ragged cells (fewer rows than kf) seed fewer " +
      "fine centroids; every vector gets exactly one in-range verdict") {
    val rnd = new scala.util.Random(19)
    // two far-apart blobs of very different sizes so the coarse fit
    // splits them and the small cell has fewer rows than kf
    val big = (0L until 40L).map { id =>
      id -> Seq.fill(4)(rnd.nextFloat() * 0.1f)
    }
    val small = (100L until 103L).map { id =>
      id -> Seq.fill(4)(10f + rnd.nextFloat() * 0.1f)
    }
    val all = big ++ small
    val got = Clustering.kmeansTwoLevel(mkPoints(all), "vec_id", "embedding",
      kc = 2, kf = 5, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSet === all.map(_._1).toSet, "one verdict per vector")
    assert(got.forall(t => t._2 >= 0 && t._2 < 2), "cells in range")
    assert(got.forall(t => t._3 >= 0 && t._3 < 5), "fine ids in range")
    assert(got.forall(t => t._4 == t._2 * 5 + t._3), "global label arithmetic")
    // the 3-row cell can use at most 3 fine ids
    val byCell = got.groupBy(_._2)
    val smallCell = byCell.minBy(_._2.length)._2
    assert(smallCell.length === 3)
    assert(smallCell.map(_._3).toSet.size <= 3)
  }

  test("two-level codebook: compose equals kmeansTwoLevel; a frozen " +
      "codebook never moves when an increment arrives") {
    val rnd = new scala.util.Random(31)
    val base = (0L until 50L).map { id =>
      id -> Seq.fill(6)((rnd.nextFloat() - 0.5f) * 2f)
    }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // compose ≡ the one-shot operator
    val cb = Clustering.kmeansTwoLevelCodebook(mkPoints(base), "vec_id",
      "embedding", kc = 3, kf = 3, rounds = 2)
    val composed = key(Clustering.assignToTwoLevel(mkPoints(base), "vec_id",
      "embedding", cb))
    val oneShot = key(Clustering.kmeansTwoLevel(mkPoints(base), "vec_id",
      "embedding", kc = 3, kf = 3, rounds = 2))
    assert(composed === oneShot)
    // increments assign against the FROZEN codebook: old verdicts are
    // untouched, and the codebook itself is identical object state
    val inc = (1000L until 1020L).map { id =>
      id -> Seq.fill(6)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val both = key(Clustering.assignToTwoLevel(mkPoints(base ++ inc), "vec_id",
      "embedding", cb))
    base.foreach { case (id, _) => assert(both(id) === composed(id), s"id $id") }
    assert(both.size === base.size + inc.size)
    inc.foreach { case (id, _) =>
      val (cell, fine, cluster, _) = both(id)
      assert(cluster == cell * 3 + fine && cb.fine(cell.toInt).nonEmpty)
    }
  }

  test("frozen two-level codebook: a trained-empty coarse cell is never " +
      "an assignment target — increments reroute to the nearest non-empty " +
      "cell, one row per input vector, no nulls") {
    // Crafted corpus (mirrors tools/fixture_2l_empty_cell.py): coarse
    // Lloyd on the evens leaves cell 0 EMPTY in the final assignment
    // (its stale centroid sits at 21.5), and increment vec 7 at 18.0
    // strictly argmins to that stale centroid (3.5² < 3.6667² to cell
    // 1). Pre-fix: null fine assignment; the oracle twin dropped the
    // row. Contract: vec 7 lands in cell 1, the nearest NON-EMPTY cell.
    val train: Seq[(Long, Seq[Float])] = Seq(
      0L -> 26f, 2L -> 5f, 4L -> 0f, 6L -> 30f,
      8L -> 12f, 10L -> 27f, 12L -> 14f, 14L -> 17f
    ).map { case (id, v) => id -> Seq(v, 0f) }
    val incr: Seq[(Long, Seq[Float])] = Seq(
      1L -> 4f, 3L -> 13f, 5L -> 29f, 7L -> 18f
    ).map { case (id, v) => id -> Seq(v, 0f) }
    val cb = Clustering.kmeansTwoLevelCodebook(mkPoints(train), "vec_id",
      "embedding", kc = 4, kf = 4, rounds = 3)
    // the fixture's premise: cell 0 is trained-empty but its stale
    // centroid is the UNRESTRICTED argmin for vec 7's vector
    assert(cb.fine(0).isEmpty, "fixture must leave coarse cell 0 trained-empty")
    val q7 = 180000L
    val d = cb.coarse.map { case (cid, c) => cid -> (q7 - c(0)) * (q7 - c(0)) }.toMap
    assert((1L to 3L).forall(c => d(0L) < d(c)),
      "fixture premise: the stale cell-0 centroid must strictly win for vec 7")
    val rows = Clustering.assignToTwoLevel(mkPoints(train ++ incr), "vec_id",
      "embedding", cb).collect()
    assert(rows.length === train.size + incr.size, "one row per input vector")
    rows.foreach { r =>
      assert(!r.anyNull, s"null assignment for vec ${r.getLong(0)}")
      assert(r.getLong(1) != 0L, "trained-empty cell 0 must never be a target")
    }
    val v7 = rows.find(_.getLong(0) == 7L).get
    assert(v7.getLong(1) === 1L, "vec 7 reroutes to the nearest non-empty cell")
  }

  test("frozen two-level assignment: randomized differential against a " +
      "naive argmin — one row per vector, exact qdist, nearest non-empty cell") {
    val rnd = new scala.util.Random(4207)
    (0 until 3).foreach { trial =>
      val nTrain = 12 + rnd.nextInt(20)
      def v3() = Seq.fill(3)((rnd.nextInt(41) - 20).toFloat) // integral → quantize exact
      val train = (0L until nTrain.toLong).map(id => id -> v3())
      val inc = (1000L until 1008L).map(id => id -> v3())
      val kc = 2 + rnd.nextInt(3); val kf = 2 + rnd.nextInt(3)
      val cb = Clustering.kmeansTwoLevelCodebook(mkPoints(train), "vec_id",
        "embedding", kc, kf, rounds = 1 + rnd.nextInt(3))
      val out = Clustering.assignToTwoLevel(mkPoints(train ++ inc), "vec_id",
        "embedding", cb).collect()
      assert(out.length === train.size + inc.size, s"trial $trial row count")
      val nonEmpty = cb.coarse.filter { case (cid, _) => cb.fine(cid.toInt).nonEmpty }
      def q(v: Seq[Float]) = v.map(x => math.floor(x.toDouble * 10000).toLong).toArray
      def sq(a: Array[Long], b: Array[Long]) =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val vecs = (train ++ inc).toMap
      out.foreach { r =>
        assert(!r.anyNull, s"trial $trial vec ${r.getLong(0)} null")
        val (id, cell, fine) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(r.getLong(3) === cell * kf + fine, s"trial $trial vec $id cluster")
        val qp = q(vecs(id))
        val bestCell = nonEmpty.minBy { case (cid, c) => (sq(qp, c), cid) }._1
        assert(cell === bestCell, s"trial $trial vec $id cell")
        val fc = cb.fine(cell.toInt)
        val bestF = fc.indices.minBy(j => (sq(qp, fc(j)), j.toLong))
        assert(fine === bestF.toLong && r.getLong(4) === sq(qp, fc(bestF)),
          s"trial $trial vec $id fine/qdist")
      }
    }
  }

  test("semanticDedupTwoLevel with kc=1 equals flat semanticDedup") {
    val rnd = new scala.util.Random(23)
    val base = (0L until 30L).map { id =>
      id -> Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2f)
    }
    // plant near-dups so the verdicts are non-trivial
    val dups = base.take(5).map { case (id, v) => (id + 1000L) -> v }
    val vecs = base ++ dups
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    val flat = res(Clustering.semanticDedup(mkPoints(vecs), "vec_id", "embedding",
      k = 4, rounds = 2, tau = 0.9))
    val two = res(Clustering.semanticDedupTwoLevel(mkPoints(vecs), "vec_id",
      "embedding", kc = 1, kf = 4, rounds = 2, tau = 0.9))
    assert(two === flat)
    assert(flat.count(_._2._2 == false) >= 5, "planted dups detected")
  }

  test("semanticDedupFrom: embedding-passthrough assignment (keepCols) " +
      "equals the re-attach-join path row for row") {
    val rnd = new scala.util.Random(31)
    val base = (0L until 40L).map { id =>
      id -> Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val dups = base.take(6).map { case (id, v) => (id + 500L) -> v }
    val pts = mkPoints(base ++ dups)
    val cents = Clustering.kmeansCentroids(pts, "vec_id", "embedding",
      k = 4, rounds = 2)
    def res(asn: org.apache.spark.sql.DataFrame) =
      Clustering.semanticDedupFrom(asn, pts, "vec_id", "embedding", tau = 0.9)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toMap
    val viaJoin = res(
      Clustering.assignToCentroids(pts, "vec_id", "embedding", cents))
    val viaKeep = res(
      Clustering.assignToCentroids(pts, "vec_id", "embedding", cents,
        keepCols = Seq("embedding")))
    assert(viaKeep === viaJoin)
    assert(viaJoin.count(_._2._3 == false) >= 6, "planted dups detected")
  }

  test("semDedupK: scale-relative cluster count — gate tiers unchanged, " +
      "linear growth, capped at the literal-centroid envelope") {
    import graft.queries.VectorQueries.{semDedupK, KmeansK}
    // every driver gate tier (n <= 2000) keeps the historical k, so
    // small-scale verdicts and plan pins are byte-identical
    assert(semDedupK(0L) === KmeansK)
    assert(semDedupK(500L) === KmeansK)
    assert(semDedupK(2000L) === KmeansK)
    // past the floor, k tracks n / perCluster (cluster sizes stay flat)
    assert(semDedupK(5000L) === 20)
    assert(semDedupK(10000L) === 40)
    // capped at kmeansFixedPoint's own k <= 64 require
    assert(semDedupK(20000L) === 64)
    assert(semDedupK(1000000000L) === 64)
    // the two-level coarse count divides the per-cluster target across
    // kc·kf: same floor-at-gate-tiers / linear / capped shape
    import graft.queries.VectorQueries.{semDedup2lKc, K2Kc}
    assert(semDedup2lKc(0L) === K2Kc)
    assert(semDedup2lKc(2000L) === K2Kc)
    assert(semDedup2lKc(20000L) === 20)
    assert(semDedup2lKc(64000L) === 64)
    assert(semDedup2lKc(1000000000L) === 64)
  }

  test("semanticDedup: every vector gets exactly one verdict; canon stays in-cluster") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 50L).map { id =>
      id -> Seq.fill(6)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val out = Clustering.semanticDedup(mkPoints(vecs), "vec_id", "embedding",
      k = 3, rounds = 2, tau = 0.8).collect()
    assert(out.length === 50)
    assert(out.map(_.getLong(0)).distinct.length === 50)
    // canon is a member of the same cluster (pairs never cross clusters)
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(cluster(r.getLong(2)) === r.getLong(1),
        s"canon ${r.getLong(2)} of ${r.getLong(0)} escaped cluster ${r.getLong(1)}")
    }
  }

  test("frozen codebook: kmeansFixedPoint == centroids + assignToCentroids; increments don't move centroids") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 40L).map { id =>
      id -> Seq.fill(4)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val df = mkPoints(vecs)
    val composed = Clustering.assignToCentroids(df, "vec_id", "embedding",
      Clustering.kmeansCentroids(df, "vec_id", "embedding", 3, 2))
      .collect().map(_.toSeq).toSet
    val direct = Clustering.kmeansFixedPoint(df, "vec_id", "embedding", 3, 2)
      .collect().map(_.toSeq).toSet
    assert(composed === direct)
    // a far-out increment assigns to SOME frozen centroid with a large
    // qdist instead of dragging a centroid toward itself
    val cents = Clustering.kmeansCentroids(df, "vec_id", "embedding", 3, 2)
    val inc = mkPoints(vecs ++ Seq(999L -> Seq(30f, 30f, 30f, 30f)))
    val got = Clustering.assignToCentroids(inc, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(999L)._2 > 1000000L, s"outlier qdist suspiciously small: ${got(999L)}")
    // old points' assignments are untouched by the increment
    val old = Clustering.assignToCentroids(df, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    vecs.foreach { case (id, _) => assert(got(id) === old(id)) }
  }

  test("cluster-histogram PSI flags a planted snapshot shift and stays flat without one") {
    import org.apache.spark.sql.functions._
    // mirror of the drift_cluster_shift recipe on a planted fixture:
    // old (even ids) lives in two regions; new (odd ids) abandons one
    val regionA = Seq(1f, 1f); val regionB = Seq(-1f, -1f)
    def mk(pairs: Seq[(Long, Seq[Float])]) = mkPoints(pairs)
    val olds = (0L until 40L by 2).map(i =>
      i -> (if (i % 4 == 0) regionA else regionB))
    val newsShift = (1L until 40L by 2).map(i => i -> regionA) // all A
    val all = mk(olds ++ newsShift)
    val cents = Clustering.kmeansCentroids(
      all.where(col("vec_id") % 2 === 0), "vec_id", "embedding", 2, 2)
    val hist = Clustering.assignToCentroids(all, "vec_id", "embedding", cents)
      .groupBy("cluster")
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_new"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // old split ~50/50 across the two clusters; new is 100/0
    val (pA, pB) = (hist.values.map(_._1).toSeq.sorted, hist.values.map(_._2).toSeq.sorted)
    assert(pA === Seq(10L, 10L), s"old histogram $hist")
    assert(pB === Seq(0L, 20L), s"new histogram $hist")
    def psi(h: Map[Long, (Long, Long)]): Double = {
      val tO = h.values.map(_._1).sum + 2.0
      val tN = h.values.map(_._2).sum + 2.0
      h.values.map { case (o, n) =>
        val p = (o + 1) / tO; val q = (n + 1) / tN
        (p - q) * math.log(p / q)
      }.sum
    }
    assert(psi(hist) > 0.25, s"planted shift must exceed the drift threshold: ${psi(hist)}")
  }

  test("powerIteration matches a driver-side twin and finds the dominant axis") {
    val rnd = new scala.util.Random(41)
    // anisotropic cloud: axis 0 variance dominates
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq(
        (rnd.nextFloat() * 2 - 1) * 10f,
        (rnd.nextFloat() * 2 - 1) * 0.5f,
        (rnd.nextFloat() * 2 - 1) * 0.5f,
        (rnd.nextFloat() * 2 - 1) * 0.5f))
    }
    val got = Clustering.powerIteration(mkPoints(vecs), "embedding", rounds = 4)
      .orderBy("dim_idx").collect().map(_.getLong(1))
    // driver-side twin: same quantize, same integer recurrence+rescale
    val xq = vecs.map(_._2.map(f => math.floor(f.toDouble * 10000).toLong).toArray)
    var v = Array.fill(4)(1L)
    for (_ <- 1 to 4) {
      val w = new Array[Long](4)
      xq.foreach { x =>
        val s = x.zip(v).map { case (a, b) => a * b }.sum
        var j = 0
        while (j < 4) { w(j) += x(j) * s; j += 1 }
      }
      val d = math.max(1L, w.map(math.abs).max / 1000000L)
      v = w.map(_ / d)
    }
    assert(got.toSeq === v.toSeq)
    // dominant axis wins by a wide margin (sign-agnostic)
    assert(math.abs(got(0)) > 5 * got.drop(1).map(math.abs).max,
      got.toSeq.toString)
  }

  test("powerIteration round sum is exact past the BIGINT envelope") {
    // 100k near-identical unit-scale vectors: by round 2 the direction
    // has rescaled to ~1e6, so per-row contributions reach ~1e14 and
    // the 100k-row sum crosses 9.2e18 — a Long accumulator wraps, the
    // engine's DECIMAL(38,0) reduction must not. Twin in BigInt.
    val vecs = (0 until 100000).map { i =>
      (i.toLong, Seq(0.9f, 0.5f + (i % 7) * 1e-4f))
    }
    val got = Clustering.powerIteration(mkPoints(vecs), "embedding", rounds = 2)
      .orderBy("dim_idx").collect().map(_.getLong(1))
    val xq = vecs.map(_._2.map(f => math.floor(f.toDouble * 10000).toLong).toArray)
    def twin(add: (BigInt, BigInt) => BigInt): Seq[Long] = {
      var v = Array.fill(2)(1L)
      for (_ <- 1 to 2) {
        val w = Array.fill(2)(BigInt(0))
        xq.foreach { x =>
          val s = x.zip(v).map { case (a, b) => a * b }.sum // Long-safe per row
          var j = 0
          while (j < 2) { w(j) = add(w(j), BigInt(x(j)) * s); j += 1 }
        }
        val d = w.map(_.abs).max / BigInt(1000000L) max BigInt(1)
        v = w.map(x => (x / d).toLong)
      }
      v.toSeq
    }
    val exact = twin(_ + _)
    // the fixture genuinely crosses the Long envelope: a wrapping
    // accumulator diverges from the exact sum
    val wrapped = twin((a, b) => BigInt((a + b).toLong))
    assert(exact !== wrapped, "fixture must exceed the BIGINT envelope")
    assert(got.toSeq === exact)
  }

  /** Naive driver-side Lloyd fit: the k lowest-id vectors seed (fewer
    * when there are fewer rows), then `rounds` (assign, update) rounds
    * with the smaller-label tie-break and truncating division; an empty
    * cluster keeps its centroid. Returns the centroids and whether any
    * cluster emptied.
    */
  private def naiveLloyd(q: Seq[(Long, Array[Long])], k: Int,
                         rounds: Int): (Array[Array[Long]], Boolean) = {
    val byId = q.sortBy(_._1)
    var cents = byId.take(k).map(_._2.clone()).toArray
    var emptied = false
    (1 to rounds).foreach { _ =>
      val members = byId.groupBy { case (_, v) => naiveNearest(v, cents) }
      cents = cents.indices.map { j =>
        members.get(j) match {
          case Some(ms) =>
            val s = new Array[Long](cents(j).length)
            ms.foreach { case (_, v) => v.indices.foreach(i => s(i) += v(i)) }
            s.map(_ / ms.size)
          case None => emptied = true; cents(j)
        }
      }.toArray
    }
    (cents, emptied)
  }

  private def naiveNearest(v: Array[Long], cents: Array[Array[Long]]): Int =
    cents.indices.minBy(j => (v.zip(cents(j)).map { case (a, b) => (a - b) * (a - b) }.sum, j))

  test("two-level codebook matches a naive two-level twin: negative " +
      "coordinates, a ragged cell and a fine cluster that empties") {
    val rnd = new scala.util.Random(57)
    def near(c: Seq[Float]) = c.map(x => x + (rnd.nextFloat() - 0.5f) * 2f)
    val (a, b, c) = (Seq(-6f, -6f, -6f, -6f), Seq(6f, 6f, 6f, 6f), Seq(-6f, 6f, -6f, 6f))
    // ids 0, 1, 2 seed one coarse cell per blob; in b's cell, ids 33
    // and 34 are the same vector, so fine label 2 always loses the
    // tie to label 1 and empties; c's cell holds 3 rows for kf = 4
    val twin33 = near(b)
    val vecs: Seq[(Long, Seq[Float])] =
      Seq(0L -> near(a), 1L -> near(b), 2L -> near(c)) ++
        (3L to 32L).map(_ -> near(a)) ++
        Seq(33L -> twin33, 34L -> twin33) ++ (35L to 52L).map(_ -> near(b)) ++
        Seq(53L -> near(c), 54L -> near(c))
    val (kc, kf, rounds) = (3, 4, 3)
    val q = vecs.map { case (id, v) => id -> v.map(x => math.floor(x.toDouble * 10000d).toLong).toArray }
    val (coarse, _) = naiveLloyd(q, kc, rounds)
    val fits = (0 until kc).map(cell =>
      naiveLloyd(q.filter { case (_, v) => naiveNearest(v, coarse) == cell }, kf, rounds))
    assert(fits.exists(_._1.length < kf), "fixture must hold a ragged cell")
    assert(fits.exists(_._2), "fixture must empty a fine cluster")
    val cb = Clustering.kmeansTwoLevelCodebook(mkPoints(vecs), "vec_id", "embedding",
      kc, kf, rounds)
    assert(cb.coarse.map(_._1) === (0L until kc.toLong))
    assert(cb.coarse.map(_._2.toSeq) === coarse.toSeq.map(_.toSeq))
    assert(cb.fine.map(_.map(_.toSeq).toSeq).toSeq ===
      fits.map(_._1.map(_.toSeq).toSeq))
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerDrain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  test("each Lloyd round is one job: fits stay within their job budgets") {
    val rnd = new scala.util.Random(5)
    val pts = mkPoints((0L until 80L).map(id => id -> Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2f)))
    // seed + 3 rounds per level, plus at most the widening shuffle
    val flat = jobsOf(Clustering.kmeansCentroids(pts, "vec_id", "embedding", k = 4, rounds = 3))
    val twoLevel = jobsOf(Clustering.kmeansTwoLevelCodebook(pts, "vec_id", "embedding",
      kc = 4, kf = 4, rounds = 3))
    val counts = s"jobs: kmeansCentroids $flat, kmeansTwoLevelCodebook $twoLevel"
    info(counts)
    assert(flat <= 6, counts)
    assert(twoLevel <= 10, counts)
  }

  test("fits leave no persisted RDD behind, and a corrupt training vector " +
      "fails both fits with the null-cluster message") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    def pts(bad: Seq[java.lang.Float]) = spark.createDataFrame(
      java.util.Arrays.asList((0L until 12L).map(id =>
        Row(id, if (id == 5L) bad else Seq[java.lang.Float](id * 0.1f, -id * 0.2f))): _*),
      schema)
    // earlier suites' RDDs may be cleaned meanwhile: pin "none added"
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val good = pts(Seq[java.lang.Float](0.5f, -1f))
    Clustering.kmeansCentroids(good, "vec_id", "embedding", k = 3, rounds = 2)
    Clustering.kmeansTwoLevelCodebook(good, "vec_id", "embedding", kc = 2, kf = 2, rounds = 2)
    assert(added.isEmpty, "after fits that succeed")
    for (bad <- Seq(Seq[java.lang.Float](0.5f, null), Seq[java.lang.Float](0.5f, -1f, 2f))) {
      val flat = intercept[IllegalArgumentException] {
        Clustering.kmeansCentroids(pts(bad), "vec_id", "embedding", k = 3, rounds = 2)
      }
      assert(flat.getMessage.contains("null cluster"), flat.getMessage)
      val twoLevel = intercept[IllegalArgumentException] {
        Clustering.kmeansTwoLevelCodebook(pts(bad), "vec_id", "embedding",
          kc = 2, kf = 2, rounds = 2)
      }
      assert(twoLevel.getMessage.contains("null cluster"), twoLevel.getMessage)
      assert(added.isEmpty, s"after fits that fail on $bad")
    }
  }

  test("deterministic across reruns") {
    val rnd = new scala.util.Random(99)
    val vecs = (0L until 30L).map { id =>
      id -> Seq.fill(6)((rnd.nextFloat() - 0.5f) * 2f)
    }
    val df = mkPoints(vecs)
    val a = Clustering.kmeansFixedPoint(df, "vec_id", "embedding", 3, 2)
      .collect().map(_.toSeq).toSet
    val b = Clustering.kmeansFixedPoint(df, "vec_id", "embedding", 3, 2)
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }
}
