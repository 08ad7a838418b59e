package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, Dedup}

import scala.util.Random

/** Randomized-input equivalence tests for the graph and as-of
  * operators, against independent driver-side reference
  * implementations (BFS union-find; per-row linear scan). Seeded RNG
  * so failures reproduce.
  */
class OperatorPropertiesSpec extends SparkSpec {

  test("connected components matches driver-side union-find on random graphs") {
    import spark.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 4) {
      val nNodes = 30 + trial * 20
      // trial 4 shifts ids negative: label sums may pass through any
      // value, including former sentinel candidates like -1
      val shift = if (trial == 4) -nNodes / 2 else 0
      val edges = Seq.fill(nNodes)(
        ((rnd.nextInt(nNodes) + shift).toLong, (rnd.nextInt(nNodes) + shift).toLong))
        .filter { case (a, b) => a != b }
      // reference: union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> {
          // min node id within the component
          val root = find(n)
          edges.flatMap(e => Seq(e._1, e._2)).filter(m => find(m) == root).min
        }).toMap

      val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("triangleCounts matches brute-force triple enumeration on random graphs") {
    import spark.implicits._
    import graft.operators.GraphRank
    val rnd = new Random(13)
    for (trial <- 1 to 4) {
      val nNodes = 8 + trial * 4
      // dense enough to guarantee triangles; feed RAW directed dups —
      // canonicalization is part of what's under test
      val edges = Seq.fill(nNodes * 3)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      val undirected = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = undirected.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val expected = (for {
        i <- nodes; j <- nodes if i < j; k <- nodes if j < k
        if undirected((i, j)) && undirected((j, k)) && undirected((i, k))
      } yield Seq(i, j, k)).flatten
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
      val got = GraphRank.triangleCounts(
        GraphRank.prepareUndirected(edges.toDF("a", "b"), "a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial: edges=$undirected")
    }
  }

  test("round-limited kCore converges to the classic k-core on random graphs") {
    import spark.implicits._
    import graft.operators.GraphRank
    val rnd = new Random(17)
    for (trial <- 1 to 3) {
      val nNodes = 10 + trial * 5
      val k = 2 + trial % 2
      val edges = Seq.fill(nNodes * 2)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      // reference: peel to fixpoint driver-side
      var cur = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      var stable = false
      while (!stable) {
        val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (n, xs) => n -> xs.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = cur.filter(e => keep(e._1) && keep(e._2))
        stable = next == cur
        cur = next
      }
      val expected = cur.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
      // n rounds always suffice for convergence on n nodes
      val got = GraphRank.kCore(GraphRank.prepareUndirected(edges.toDF("a", "b"), "a", "b"), k,
        rounds = nNodes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial k=$k")
    }
  }

  test("two-level prefix sum matches a sequential scan on random inputs") {
    import spark.implicits._
    val rnd = new Random(11)
    for (trial <- 1 to 4) {
      val n = 40 + trial * 30
      // sparse ids (gaps, uneven buckets) + zero values mixed in
      val rows = Seq.iterate(0L, n)(_ + 1 + rnd.nextInt(5))
        .map(id => (id, if (rnd.nextInt(4) == 0) 0L else rnd.nextInt(100).toLong))
      val expected = rows.sortBy(_._1)
        .scanLeft((0L, 0L, 0L)) {
          case ((_, pv, acc), (id, v)) => (id, v, acc + pv)
        }
        .drop(1)
        .map { case (id, _, acc) => (id, acc) }.toMap
      val width = 1L + rnd.nextInt(17)
      val got = graft.operators.Packing
        .prefixSum(rows.toDF("id", "v"), "id", "v", "off", width)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === expected, s"trial $trial width $width")
    }
  }

  test("dupSpanRemoval matches a driver-side reference on random corpora with planted spans") {
    import spark.implicits._
    val rnd = new Random(31)
    for (trial <- 1 to 3) {
      val nGram = 2 + rnd.nextInt(3) // 2..4
      // random docs over a small vocab (natural collisions) plus a
      // planted span copied into two docs
      val vocab = (0 until 12).map(i => s"w$i")
      def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val span = Seq.fill(nGram + 2)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val docs = (0 until 8).map { i =>
        val base = doc(6 + rnd.nextInt(8))
        val t = if (i < 2) s"$base $span" else base
        (i.toLong, t)
      }
      // reference: count n-gram doc frequencies, cover, excise
      val grams = docs.flatMap { case (id, t) =>
        val ws = t.split(" ", -1)
        (0 to ws.length - nGram).map(p => (id, p, ws.slice(p, p + nGram).toSeq))
      }
      val df = grams.groupBy(_._3).map { case (g, occ) => g -> occ.map(_._1).distinct.size }
      val expected = docs.map { case (id, t) =>
        val ws = t.split(" ", -1)
        val covered = grams.filter(g => g._1 == id && df(g._3) >= 2)
          .flatMap(g => g._2 until g._2 + nGram).toSet
        val kept = ws.zipWithIndex.filterNot(p => covered(p._2)).map(_._1)
        id -> (ws.length.toLong, covered.size.toLong, kept.mkString(" "))
      }.toMap
      val got = graft.operators.Dedup
        .dupSpanRemoval(docs.toDF("doc_id", "text"), "doc_id", "text", nGram)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      assert(got === expected, s"trial $trial nGram $nGram")
    }
  }

  test("exact rank cuts equal the sorted r-th smallest on random tied inputs") {
    import spark.implicits._
    val rnd = new Random(23)
    for (trial <- 1 to 4) {
      val n = 50 + trial * 40
      // ~30% tie mass: values drawn from a small range
      val vals = Seq.fill(n)(rnd.nextInt(30).toLong)
      val sorted = vals.sorted
      val ranks = Seq(1L, n / 4L max 1L, n / 2L max 1L, n.toLong).distinct
      val got = graft.operators.Quantiles
        .exactCutsByRank(vals.toDF("v"), "v", ranks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ranks.foreach { r =>
        assert(got(r) === sorted((r - 1).toInt),
          s"trial $trial rank $r: got ${got(r)} want ${sorted((r - 1).toInt)}")
      }
    }
  }

  test("as-of join matches per-row linear scan on random series") {
    import spark.implicits._
    val rnd = new Random(11)
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val left = Seq.tabulate(120)(i => (rnd.nextInt(5).toLong, ts(rnd.nextInt(500).toLong), i))
    // right side unique on (key, time) as the operator contract requires
    val right = Seq.fill(150)((rnd.nextInt(5).toLong, ts(rnd.nextInt(500).toLong), rnd.nextDouble()))
      .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq

    val expected = left.map { case (k, t, id) =>
      val cands = right.filter(r => r._1 == k && !r._2.after(t))
      id -> (if (cands.isEmpty) None else Some(cands.maxBy(_._2.getTime)._3))
    }.toMap

    val out = AsofJoin.backward(
      left.toDF("k", "t", "id"), right.toDF("k", "qt", "v"),
      "k", "t", "qt", Seq("v")).collect()
    assert(out.length === left.length)
    out.foreach { r =>
      val id = r.getAs[Int]("id")
      val got = if (r.isNullAt(r.fieldIndex("v"))) None else Some(r.getAs[Double]("v"))
      assert(got === expected(id), s"row id $id")
    }
  }

  test("kmeans matches the driver-side reference over random sizes, dims, k, and rounds") {
    import spark.implicits._
    val rnd = new Random(31)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(60)
      val dim = 2 + rnd.nextInt(8)
      val k = 2 + rnd.nextInt(4)
      val rounds = 1 + rnd.nextInt(3)
      val vecs = (0L until n.toLong).map { id =>
        id -> Seq.fill(dim)((rnd.nextFloat() - 0.5f) * 4f)
      }
      // independent driver-side reference: same quantization/seed/update rules
      val q = vecs.map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 10000d).toLong).toArray
      }.sortBy(_._1)
      var cents = q.take(k).map(_._2.clone()).toArray
      def sq(a: Array[Long], b: Array[Long]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
      }
      def assignAll(): Map[Long, (Long, Long)] = q.map { case (id, v) =>
        id -> cents.zipWithIndex.map { case (c, j) => (sq(v, c), j.toLong) }.min.swap
      }.toMap
      (1 to rounds).foreach { _ =>
        val a = q.map { case (id, v) =>
          id -> cents.zipWithIndex.map { case (c, j) => (sq(v, c), j) }.min._2
        }
        val next = cents.map(_.clone())
        a.groupBy(_._2).foreach { case (cid, members) =>
          val s = new Array[Long](dim)
          members.foreach { case (id, _) =>
            val v = q.find(_._1 == id).get._2
            var i = 0; while (i < dim) { s(i) += v(i); i += 1 }
          }
          next(cid) = s.map(_ / members.size)
        }
        cents = next
      }
      val expected = assignAll()
      val got = graft.operators.Clustering
        .kmeansFixedPoint(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", k, rounds)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === expected, s"trial $trial n=$n dim=$dim k=$k rounds=$rounds")
    }
  }

  test("KLL bound holds over random distributions, capacities, and partition splits") {
    val rnd = new Random(43)
    import graft.operators.QuantileSketch
    for (trial <- 1 to 4) {
      val n = 2000 + rnd.nextInt(8000)
      val k = Seq(32, 64, 128)(rnd.nextInt(3))
      // mix of heavy ties, uniform noise, and outliers
      val xs = Seq.fill(n)(rnd.nextInt(4) match {
        case 0 => 42.0
        case 1 => rnd.nextDouble() * 1e6
        case 2 => -rnd.nextDouble()
        case _ => rnd.nextGaussian() * 100
      })
      // random partition split, merged in shuffled order
      val parts = rnd.shuffle(xs.grouped(1 + rnd.nextInt(700)).toList)
        .map(_.foldLeft(QuantileSketch.empty(k))(QuantileSketch.insert))
      val sk = parts.reduceLeft(QuantileSketch.merge)
      assert(sk.n === n.toLong, s"trial $trial mass")
      for (phi <- Seq(0.05, 0.5, 0.95)) {
        val est = QuantileSketch.query(sk, phi)
        // est is a stored data value, so with ties its rank is the
        // INTERVAL [count(<est)+1, count(<=est)] — the bound holds if
        // the target sits within err+1 of that interval (a single-rank
        // check misreads a tie run's whole mass as error)
        val lo = xs.count(_ < est).toLong + 1
        val hi = xs.count(_ <= est).toLong
        val target = math.ceil(phi * n).toLong
        assert(target >= lo - sk.err - 1 && target <= hi + sk.err + 1,
          s"trial $trial phi=$phi interval=[$lo,$hi] target=$target err=${sk.err}")
      }
    }
  }
}
