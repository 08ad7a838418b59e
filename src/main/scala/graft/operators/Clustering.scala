package graft.operators

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.expressions.VectorKernels

/** Corpus-scale, integer-exact k-means over an embedding column — the
  * clustering stage of a semantic-curation pipeline (SemDeDup-style
  * cluster-then-dedup, topic bucketing, per-cluster sampling quotas).
  *
  * Complementary to [[Similarity.lloyd]]: that routine trains a
  * codebook on a DRIVER-collected bounded sample (fine for IVF/PQ,
  * where only the codebook must be deterministic); this one assigns
  * EVERY corpus vector distributively, and its full assignment table
  * is the operator's output, so the whole iteration has to be
  * cross-engine deterministic.
  *
  * Determinism: coordinates are quantized once to fixed point
  * (`floor(x * 10000)` in double — float→double widening is exact and
  * both engines' IEEE multiply/floor agree bit for bit), after which
  * every step is BIGINT arithmetic: squared-L2 distances are integer
  * sums, the argmin tie-breaks on the smaller cluster id, and centroid
  * updates are truncating integer division (Long `/` here, `//` in the
  * DuckDB oracle — both truncate toward zero). k seeds are the k
  * lowest-id vectors (published data-dependent inits like kmeans++
  * need a seeded RNG; an id-ordered seed keeps the contract
  * engine-free). The oracle unrolls the SAME R rounds as chained
  * MATERIALIZED CTEs and matches bit for bit.
  *
  * Scale shape: training runs on an RDD of (group, id, quantized
  * vector) rows, quantized and widened once and persisted for the
  * whole fit (`lloyd`). One job seeds it; each Lloyd round is then
  * ONE `treeAggregate` job: every task argmins its rows against the
  * driver-held centroid table ([[VectorKernels.kmeansArgmin]]) and
  * folds them into ≤ k vector sums per group, and the driver divides.
  * No round builds, analyzes or codegens a plan, and no round
  * shuffles the corpus. Assignment ([[assignToCentroids]],
  * [[assignToTwoLevel]]) is a ZERO-SHUFFLE projection: the centroid
  * table rides the plan as one native-expression constant (k ≤ 64
  * per level).
  */
object Clustering {

  /** Fixed-point scale for embedding coordinates: floor(x·1e4). */
  val QuantScale = 10000L

  /** floor(x·QuantScale) as BIGINT, computed in double. */
  def quantize(emb: Column): Column =
    transform(emb.cast("array<double>"), x => floor(x * QuantScale.toDouble).cast("long"))

  /** Zero-shuffle argmin assignment against driver-held labeled
    * centroids: winner = lexicographic min over (dist, label) — exact
    * integer distances, total tie-break. Input must carry (idC, qC);
    * output appends (cluster, qdist).
    *
    * The whole argmin is ONE native expression
    * ([[graft.expressions.KmeansArgmin]]) holding the centroid matrix
    * as a constant. Two separate costs forced that design, both
    * measured on the 10× tier at k = 64 (the scale-relative-k SemDeDup
    * regime): (1) the unrolled k-branch expression tree is O(k·dim)
    * nodes and Catalyst RE-ANALYZES it every Lloyd round (fresh
    * centroid literals each round) — ~2.5 s of driver planning per
    * round; (2) the higher-order form (transform/zip_with/aggregate)
    * evaluates an interpreted lambda per element — ~100 µs/row, i.e.
    * a lambda-bound scan. The native kernel is a fused codegen'd loop:
    * O(1) plan nodes, ~1 µs/row, same integer ops and tie-break, so
    * the DuckDB kmeans-CTE twins stay bit-identical.
    */
  private def argminAssign(q: DataFrame, idC: String, qC: String,
                           cents: Seq[(Long, Array[Long])]): DataFrame = {
    val w = graft.expressions.GraftFunctions.kmeansArgmin(
      col(qC), cents.map(_._2.toSeq), cents.map(_._1))
    // columns beyond (idC, qC) pass through untouched — callers opt in
    // to carrying payload (e.g. the raw embedding) through the
    // assignment so downstream stages need no re-attach join
    q.withColumn("_w", w)
      .withColumn("cluster", col("_w.cluster"))
      .withColumn("qdist", col("_w.qdist"))
      .drop("_w")
  }

  /** The Lloyd loop alone: returns the trained centroids, label →
    * quantized vector. Train ONCE on a corpus snapshot, then assign
    * any later increment with [[assignToCentroids]] — the daily-
    * curation shape (clusters stay comparable across increments
    * because the codebook is frozen).
    */
  def kmeansCentroids(points: DataFrame, idCol: String, embCol: String,
                      k: Int, rounds: Int): Seq[(Long, Array[Long])] = {
    require(k >= 2 && k <= 64, s"k must be 2..64 (centroids ride the plan as literals), got $k")
    require(rounds >= 1 && rounds <= 20, s"rounds must be 1..20, got $rounds")
    labeled(persisted(trainingRows(points, idCol, embCol))(
      lloyd(_, groups = 1, k, rounds, ragged = false))(0))
  }

  /** One training row: (fit group, id, quantized vector). */
  private type Pt = (Int, Long, ArrayData)

  private def labeled(cents: Array[Array[Long]]): Seq[(Long, Array[Long])] =
    cents.toSeq.zipWithIndex.map { case (c, j) => (j.toLong, c) }

  /** The quantized (id, vector) projection as group-0 training rows,
    * the arrays copied out of the scan's reused rows. WIDENED first
    * (Tables.widen — no-op when the scan already has shuffle-width
    * partitions, i.e. at lake scale): every round's k·dim distance
    * work runs against this partitioning, and a single-row-group
    * parquet source would pin ALL rounds to 1-2 cores (measured 3×
    * end-to-end on the 10× tier at k=64).
    */
  private def trainingRows(points: DataFrame, idCol: String, embCol: String): RDD[Pt] =
    graft.core.Tables.widen(points.select(col(idCol).cast("long"), quantize(col(embCol))))
      .queryExecution.toRdd
      .map(r => (0, r.getLong(0), if (r.isNullAt(1)) null else r.getArray(1).copy()))

  /** `body` over `rdd` persisted, unpersisted however `body` ends. */
  private def persisted[A, T](rdd: RDD[A])(body: RDD[A] => T): T = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try body(rdd) finally rdd.unpersist()
  }

  /** Lloyd's iteration over training rows split into independent fit
    * groups `0 until groups` — group 0 alone for the flat fit and the
    * coarse level, the row's coarse cell for the fine level — so both
    * levels run the identical seed/assign/update arithmetic. One job
    * seeds every group with its k lowest-id vectors; each round is one
    * `treeAggregate` job whose partials are ≤ k vector sums per group.
    * Returns each group's centroid table, label = index. With `ragged`
    * a group holding fewer than k rows seeds that many centroids and a
    * group with none stays empty; without it the fit needs k seeds.
    */
  private def lloyd(rows: RDD[Pt], groups: Int, k: Int, rounds: Int,
                    ragged: Boolean): Array[Array[Array[Long]]] = {
    val seeds = seed(rows, groups, k)
    require(ragged || seeds.forall(_.length == k),
      s"need at least $k vectors to seed, got ${seeds.map(_.length).min}")
    (1 to rounds).foldLeft(seeds) { (cs, _) =>
      val labels = cs.map(c => Array.tabulate(c.length)(_.toLong))
      val sums = rows.treeAggregate(new RoundSums(cs.map(_.length)))(
        (acc, p) => acc.add(p._1, p._3, cs(p._1), labels(p._1)), _.merge(_))
      require(sums.corrupt == 0,
        "k-means update saw a null cluster: corrupt vector (null element " +
          "or dimension mismatch) in the training input")
      // empty clusters keep their previous centroid (mirrored in the
      // oracle's LEFT JOIN + coalesce)
      Array.tabulate(groups)(g => Array.tabulate(cs(g).length) { j =>
        val n = sums.cnt(g)(j)
        if (n == 0) cs(g)(j) else sums.sum(g)(j).map(_ / n)
      })
    }
  }

  /** Each group's k lowest-id vectors, in id order: one
    * `treeAggregate` job folding rows into a k-bounded max-heap per
    * group (O(n log k), no sort), so no merge ever holds more than
    * groups·k vectors. A null vector seeds as a 0-dim centroid, so the
    * first round rejects its group's rows as corrupt.
    */
  private def seed(rows: RDD[Pt], groups: Int, k: Int): Array[Array[Array[Long]]] = {
    def push(h: mutable.PriorityQueue[(Long, Array[Long])], id: Long, v: => Array[Long]): Unit =
      if (h.size < k || id < h.head._1) { h.enqueue((id, v)); if (h.size > k) h.dequeue() }
    val heaps = rows.treeAggregate(Array.fill(groups)(
        mutable.PriorityQueue.empty(Ordering.by[(Long, Array[Long]), Long](_._1))))(
      (hs, p) => { push(hs(p._1), p._2, if (p._3 == null) Array.emptyLongArray else p._3.toLongArray()); hs },
      (a, b) => { a.indices.foreach(g => b(g).foreach(t => push(a(g), t._1, t._2))); a })
    heaps.map(_.toArray.sortBy(_._1).map(_._2))
  }

  /** One Lloyd round's partial: per (group, label) the member count
    * and elementwise member sum (allocated at the first member), plus
    * the rows the argmin kernel refused — a null winner is a corrupt
    * vector (null element, dimension mismatch), raised by [[lloyd]].
    * Sums are OVERFLOW-CHECKED (`Math.addExact`): the DuckDB oracle
    * sums into HUGEINT, so a silent Long wraparound would diverge from
    * it with no symptom — instead the job fails with an
    * ArithmeticException. Integer addition commutes, so merge order
    * cannot perturb the result.
    */
  private final class RoundSums(sizes: Array[Int]) extends Serializable {
    val cnt: Array[Array[Long]] = sizes.map(new Array[Long](_))
    val sum: Array[Array[Array[Long]]] = sizes.map(new Array[Array[Long]](_))
    var corrupt = 0L
    /** Adds n members of cluster (g, j) whose elementwise sum is x. */
    private def addInto(g: Int, j: Int, n: Long, dim: Int)(x: Int => Long): Unit = {
      if (sum(g)(j) == null) sum(g)(j) = new Array[Long](dim)
      val s = sum(g)(j)
      var i = 0
      while (i < dim) { s(i) = Math.addExact(s(i), x(i)); i += 1 }
      cnt(g)(j) += n
    }
    def add(g: Int, q: ArrayData, cents: Array[Array[Long]], labels: Array[Long]): RoundSums = {
      val w = if (q == null) null else VectorKernels.kmeansArgmin(q, cents, labels)
      if (w == null) corrupt += 1 else addInto(g, w.getLong(0).toInt, 1, q.numElements())(q.getLong)
      this
    }
    def merge(o: RoundSums): RoundSums = {
      for (g <- cnt.indices; j <- cnt(g).indices if o.cnt(g)(j) > 0)
        addInto(g, j, o.cnt(g)(j), o.sum(g)(j).length)(o.sum(g)(j)(_))
      corrupt += o.corrupt
      this
    }
  }

  /** Zero-shuffle assignment of arbitrary points to FIXED labeled
    * centroids (from [[kmeansCentroids]] or any frozen codebook).
    */
  def assignToCentroids(points: DataFrame, idCol: String, embCol: String,
                        cents: Seq[(Long, Array[Long])],
                        keepCols: Seq[String] = Nil): DataFrame = {
    require(cents.nonEmpty && cents.size <= 64,
      s"need 1..64 centroids, got ${cents.size}")
    // keepCols ride the zero-shuffle projection (e.g. the raw
    // embedding for semanticDedupFrom) so consumers that need the
    // payload next to the cluster label skip a corpus-sized re-attach
    // join against `points`
    val q = points.select(col(idCol).as("_ka_id") +:
      quantize(col(embCol)).as("_ka_q") +: keepCols.map(col): _*)
    argminAssign(q, "_ka_id", "_ka_q", cents)
      .select(col("_ka_id").as(idCol) +: col("cluster") +: col("qdist") +:
        keepCols.map(col): _*)
  }

  /** R rounds of (assign, update), then a final assignment against the
    * converged centroids. Returns one row per input vector:
    * (idCol, cluster BIGINT, qdist BIGINT) where qdist is the exact
    * quantized squared L2 distance to the winning centroid.
    */
  def kmeansFixedPoint(points: DataFrame, idCol: String, embCol: String,
                       k: Int, rounds: Int): DataFrame =
    assignToCentroids(points, idCol, embCol,
      kmeansCentroids(points, idCol, embCol, k, rounds))

  /** A trained two-level codebook: labeled coarse centroids plus the
    * per-cell fine centroid table (ragged — a cell seeds at most kf
    * fine centroids, fewer when it holds fewer training rows).
    */
  case class TwoLevelCodebook(coarse: Seq[(Long, Array[Long])],
                              fine: Array[Array[Array[Long]]], kf: Int)

  /** The two-level Lloyd fit alone — train ONCE on a corpus snapshot,
    * then assign any later increment with [[assignToTwoLevel]] (the
    * [[kmeansCentroids]]/[[assignToCentroids]] daily-curation shape,
    * lifted to the hierarchy: clusters stay comparable across
    * increments because BOTH levels of the codebook are frozen).
    */
  def kmeansTwoLevelCodebook(points: DataFrame, idCol: String, embCol: String,
                             kc: Int, kf: Int, rounds: Int): TwoLevelCodebook = {
    require(kc >= 1 && kc <= 64, s"kc must be 1..64, got $kc")
    require(kf >= 2 && kf <= 64, s"kf must be 2..64, got $kf")
    require(rounds >= 1 && rounds <= 20, s"rounds must be 1..20, got $rounds")
    persisted(trainingRows(points, idCol, embCol)) { rows =>
      val coarse = lloyd(rows, groups = 1, kc, rounds, ragged = false)(0)
      val labels = coarse.indices.map(_.toLong).toArray
      // every row passed the coarse rounds' corrupt-vector check, so
      // its coarse argmin is non-null
      val cells = rows.map { case (_, id, q) =>
        (VectorKernels.kmeansArgmin(q, coarse, labels).getLong(0).toInt, id, q)
      }
      TwoLevelCodebook(labeled(coarse),
        persisted(cells)(lloyd(_, groups = kc, kf, rounds, ragged = true)), kf)
    }
  }

  /** The fine-level argmin projection over a frame carrying
    * (idC, qC, cellC) — appends (_fid, qdist) via the cell-indexed
    * kernel (the frozen-codebook path's second level).
    */
  private def fineAssign(frame: DataFrame, idC: String, qC: String,
                         cellC: String,
                         fine: Array[Array[Array[Long]]]): DataFrame = {
    val w = graft.expressions.GraftFunctions.kmeansArgmin2l(
      col(cellC), col(qC),
      fine.map(_.map(_.toSeq).toSeq).toSeq,
      fine.map(cs => cs.indices.map(_.toLong).toSeq).toSeq)
    // extra input columns pass through (argminAssign convention)
    frame.withColumn("_w", w)
      .withColumn("_fid", col("_w.cluster"))
      .withColumn("qdist", col("_w.qdist"))
      .drop("_w")
  }

  /** Zero-shuffle assignment of arbitrary points against a FROZEN
    * two-level codebook: one fused projection evaluates the coarse
    * argmin (cell) and the cell's fine argmin per row — no join, no
    * exchange, O(kc + kf) centroid comparisons. Output matches
    * [[kmeansTwoLevel]]'s shape:
    * (idCol, cell, fine, cluster = cell·kf + fine, qdist).
    *
    * TRAINED-EMPTY cells are never assignment targets: a coarse cell
    * the training corpus left empty has no fine centroids, so an
    * increment vector whose unrestricted coarse argmin landed there
    * (empty cells keep a stale centroid that CAN strictly win for
    * out-of-snapshot points) would get a null fine assignment —
    * breaking the one-row-per-input-vector contract downstream (the
    * oracle twin's cell join would drop the row; semanticDedupFrom
    * would keep a null-cluster singleton silently). Contract: the
    * coarse argmin considers only NON-EMPTY cells, i.e. every point is
    * assigned to the nearest cell that actually has a codebook.
    * Training points are unaffected — their argmin cell is non-empty
    * by definition (it contains them) — so the full-training path
    * ([[kmeansTwoLevel]]) is bit-identical with or without the filter.
    */
  def assignToTwoLevel(points: DataFrame, idCol: String, embCol: String,
                       cb: TwoLevelCodebook,
                       keepCols: Seq[String] = Nil): DataFrame = {
    val nonEmpty = cb.coarse.filter { case (cid, _) => cb.fine(cid.toInt).nonEmpty }
    require(nonEmpty.nonEmpty, "two-level codebook has no trained (non-empty) cells")
    // keepCols pass through both fused argmin projections — same
    // re-attach-join avoidance as assignToCentroids
    val q = points.select(col(idCol).as("_a2_id") +:
      quantize(col(embCol)).as("_a2_q") +: keepCols.map(col): _*)
    val withCell = argminAssign(q, "_a2_id", "_a2_q", nonEmpty)
      .select(col("_a2_id") +: col("_a2_q") +:
        col("cluster").as("_a2_cell") +: keepCols.map(col): _*)
    fineAssign(withCell, "_a2_id", "_a2_q", "_a2_cell", cb.fine)
      .select(col("_a2_id").as(idCol) +: col("_a2_cell").as("cell") +:
        col("_fid").as("fine") +:
        (col("_a2_cell") * cb.kf + col("_fid")).as("cluster") +:
        col("qdist") +: keepCols.map(col): _*)
  }

  /** Two-level (coarse → fine) k-means: a flat kc-cluster Lloyd fit
    * partitions the corpus into cells, then an INDEPENDENT kf-cluster
    * Lloyd fit runs inside every cell simultaneously — one distributed
    * job per round fits ALL kc fine sub-problems at once (each row
    * argmins against its own cell's fine table, and the round's
    * partials are ≤ kc·kf vector sums per task). This raises the
    * effective cluster count to kc·kf — up to 64·64 = 4096 — past
    * [[kmeansFixedPoint]]'s k ≤ 64 literal-centroid envelope, which is
    * what SemDeDup-style curation needs at corpus scale: the paper
    * runs k in the tens of thousands, and cluster sizes (hence the
    * within-cluster quadratic pair join) only stay flat if k tracks n.
    * Per-row assignment cost is two fused scans of ≤ 64 centroids
    * (O(kc + kf), not O(kc·kf)); driver state is ≤ kc·kf centroid
    * vectors (~2 MB at 4096×64 dims).
    *
    * Fine seeds are the kf lowest-id vectors of each cell (the
    * id-ordered flat-seed contract, per cell); cells with fewer than
    * kf rows seed that many fine centroids (ragged cells are
    * first-class in the kernel). Empty fine clusters keep their
    * previous centroid, exactly like the flat update. Every step is
    * the same BIGINT arithmetic as [[kmeansCentroids]], so the DuckDB
    * twin (coarse chain → per-cell seed → unrolled fine rounds)
    * matches bit for bit.
    *
    * Returns one row per input vector:
    * (idCol, cell, fine, cluster = cell·kf + fine, qdist) with qdist
    * the exact quantized squared-L2 distance to the winning FINE
    * centroid.
    */
  def kmeansTwoLevel(points: DataFrame, idCol: String, embCol: String,
                     kc: Int, kf: Int, rounds: Int): DataFrame =
    assignToTwoLevel(points, idCol, embCol,
      kmeansTwoLevelCodebook(points, idCol, embCol, kc, kf, rounds))

  /** Greedy k-center selection (Gonzalez 1985 farthest-first
    * traversal) — diversity-driven coreset/data-pruning: pick the k
    * corpus vectors that 2-approximate the minimal covering radius,
    * then assign every vector to its nearest pick. The selection a
    * "maximally diverse subset" curation stage wants, complementing
    * [[kmeansFixedPoint]] (which balances mass, not coverage).
    *
    * Deterministic: the seed is the lowest id, each round adds the
    * point with the MAX min-distance to the chosen set (ties → lowest
    * id), and distances are the same quantized BIGINT squared-L2 as
    * k-means — so the DuckDB oracle unrolls the same k−1 farthest-
    * first rounds as chained CTEs and the full assignment matches bit
    * for bit.
    *
    * Scale shape: each round is ONE zero-shuffle map (min-distance to
    * the ≤ k driver-held center literals) plus ONE scalar max-struct
    * aggregation (map-side combined to one row per partition; the new
    * center's vector rides inside the struct, so there is no second
    * lookup job). k rounds total; the final assignment is the same
    * zero-shuffle argmin as k-means. Labels are the CENTER vector ids.
    */
  def kCenterSelect(points: DataFrame, idCol: String, embCol: String,
                    k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be 2..64 (centers ride the plan as literals), got $k")
    import graft.core.GraftSession.LineageOps
    // k farthest-first rounds + the final assignment each scan the
    // quantized projection — materialize it once (the kmeans pattern),
    // widened so the k per-round distance scans parallelize even off
    // a single-row-group source (see kmeansCentroids).
    val q = graft.core.Tables.widen(
        points.select(col(idCol).as("_kc_id"), quantize(col(embCol)).as("_kc_q")))
      .truncateLineage()
    // fewer rows than k would make the farthest-first argmax re-pick
    // an existing center once every point is chosen (max min-distance
    // 0) — duplicate centers, silently fewer than k distinct picks;
    // fail loudly like kmeansCentroids' seed guard. r17: the count and
    // the lowest-id seed ride ONE scalar aggregation job (ids are
    // unique, so min_by over the id reproduces orderBy+limit(1))
    // instead of two full passes over the checkpointed projection.
    val head = q.agg(count(lit(1)).as("n"),
      min_by(struct(col("_kc_id"), col("_kc_q")), col("_kc_id")).as("s")).head()
    val n = head.getLong(0)
    require(n >= k, s"kCenterSelect needs at least k=$k points, got $n")
    val seedRow = head.getStruct(1)
    require(seedRow != null, "kCenterSelect on an empty input")
    var cents: Vector[(Long, Array[Long])] =
      Vector((seedRow.getLong(0), seedRow.getSeq[Long](1).toArray))
    var r = 1
    while (r < k) {
      // min distance over the centers picked so far — the argminAssign
      // native kernel's qdist field, so round r's plan tree stays O(1)
      // in r (k driver rounds re-analyze this expression k times) and
      // the distance scan is a fused loop, not r interpreted lambdas
      val md = graft.expressions.GraftFunctions.kmeansArgmin(
        col("_kc_q"), cents.map(_._2.toSeq), cents.map(_._1))
        .getField("qdist")
      // farthest-first pick: max over (minDist, -id, vector) — the
      // vector never participates in the comparison (ids are unique)
      // but rides along so one aggregation yields the next center.
      val top = q
        .select(struct(md.as("md"), (-col("_kc_id")).as("nid"),
          col("_kc_q").as("v")).as("s"))
        .agg(max(col("s"))).head().getStruct(0)
      cents :+= ((-top.getLong(1), top.getSeq[Long](2).toArray))
      r += 1
    }
    argminAssign(q, "_kc_id", "_kc_q", cents)
      .select(col("_kc_id").as(idCol), col("cluster").as("center"), col("qdist"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    * cluster the corpus with [[kmeansFixedPoint]], find cosine-≥-τ
    * pairs WITHIN each cluster only, close them into dup groups with
    * [[Dedup.connectedComponents]], and keep the lowest id per group.
    *
    * The whole point of the clustering stage is the scale shape: the
    * quadratic pair join is an equi-join on the cluster id, so the
    * all-pairs work is Σ(cluster size²) instead of n² — with k sized
    * so clusters fit comfortably per task (the paper runs k in the
    * tens of thousands at corpus scale; raise k, not τ, when clusters
    * grow). Pairs never cross clusters, so components stay
    * cluster-local by construction — same contract as the paper.
    *
    * Determinism: the cluster assignment is integer-exact, and the
    * pair predicate thresholds the ROUNDED cosine (4 dp, strict
    * left-to-right double dot on both engines) — the
    * `dedup_embedding_cosine` convention.
    *
    * Returns one verdict row per vector:
    * (idCol, cluster, canon, keep) — `canon` the dup-group
    * representative (own id when unpaired), `keep` = id == canon.
    */
  def semanticDedup(points: DataFrame, idCol: String, embCol: String,
                    k: Int, rounds: Int, tau: Double): DataFrame =
    semanticDedupFrom(
      kmeansFixedPoint(points, idCol, embCol, k, rounds),
      points, idCol, embCol, tau)

  /** SemDeDup over the TWO-LEVEL clustering — the corpus-scale form:
    * effective cluster count kc·kf (up to 4096) keeps within-cluster
    * pair work Σ size² flat long past the flat fit's k ≤ 64 envelope.
    * Same pair predicate, closure, and verdict contract as
    * [[semanticDedup]]; only the partition the quadratic join is
    * confined to changes.
    */
  def semanticDedupTwoLevel(points: DataFrame, idCol: String, embCol: String,
                            kc: Int, kf: Int, rounds: Int, tau: Double): DataFrame =
    semanticDedupFrom(
      kmeansTwoLevel(points, idCol, embCol, kc, kf, rounds),
      points, idCol, embCol, tau)

  /** The dedup stage alone, over ANY assignment table carrying
    * (idCol, cluster) — flat k-means, two-level, or an external
    * codebook's assignment. Factored so the quadratic-confinement
    * machinery is written once.
    */
  def semanticDedupFrom(asnRaw: DataFrame, points: DataFrame, idCol: String,
                        embCol: String, tau: Double): DataFrame = {
    import graft.core.GraftSession.LineageOps
    // referenced THREE times downstream (both pair-join sides + the
    // final verdict decoration) — materialize once or the assignment
    // re-plans and re-executes per reference. When the assignment
    // already carries the embedding (assignToCentroids/assignToTwoLevel
    // keepCols — the zero-shuffle path), attaching it is a projection;
    // only an embedding-less external assignment pays the id-keyed
    // re-attach join against `points` (two corpus exchanges + a join).
    val withE = (if (asnRaw.columns.contains(embCol))
        asnRaw.select(col(idCol).as("_sd_id"), col("cluster"),
          col(embCol).cast("array<double>").as("_sd_e"))
      else asnRaw.select(col(idCol).as("_sd_id"), col("cluster")).join(
        points.select(col(idCol).as("_sd_id"),
          col(embCol).cast("array<double>").as("_sd_e")),
        "_sd_id"))
      .truncateLineage()
    val lhs = withE.select(col("cluster"), col("_sd_id").as("id_a"), col("_sd_e").as("ea"))
    val rhs = withE.select(col("cluster"), col("_sd_id").as("id_b"), col("_sd_e").as("eb"))
    val pairs = lhs.join(rhs, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .where(round(Similarity.cosine(col("ea"), col("eb")), 4) >= tau)
      .select(col("id_a"), col("id_b"))
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    withE.select(col("_sd_id"), col("cluster"))
      .join(cc.select(col("node").as("_sd_id"), col("lbl")), Seq("_sd_id"), "left")
      .select(col("_sd_id").as(idCol), col("cluster"),
        coalesce(col("lbl"), col("_sd_id")).as("canon"),
        (coalesce(col("lbl"), col("_sd_id")) === col("_sd_id")).as("keep"))
  }

  /** One power-iteration round's reduction, exposed as a DataFrame so
    * its plan shape is pinnable: zero-shuffle projection (per-row dot
    * with the broadcast direction literal — per-element contributions
    * are Long-safe at ≤ dim·Q²·1e6), posexplode by dimension index,
    * then a native DECIMAL(38,0) hash-agg. The partial agg collapses
    * each partition to dim rows, so the single exchange moves
    * dim·partitions rows regardless of corpus size, and the 128-bit
    * sum never overflows (envelope 1e38). Input must carry `_pi_q`.
    */
  private[graft] def powerIterationRoundPlan(q: DataFrame, v: Array[Long]): DataFrame = {
    val vLit = array(v.map(lit(_)): _*)
    q.withColumn("_s", aggregate(
        zip_with(col("_pi_q"), vLit, (a, b) => a * b),
        lit(0L), (acc, y) => acc + y))
      .select(posexplode(transform(col("_pi_q"), c => c * col("_s"))).as(Seq("j", "_c")))
      .groupBy("j")
      .agg(sum(col("_c").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("w"))
  }

  /** Distributed power iteration for the TOP PRINCIPAL DIRECTION of
    * the (uncentered) embedding Gram matrix — the first step of PCA /
    * spectral methods, covariance-free: each round computes
    * w = Σ_rows x·(xᵀv) — one zero-shuffle projection (per-row dot
    * with the BROADCAST direction literal) plus one map-side-combined
    * decimal hash-agg ([[powerIterationRoundPlan]]); the d-long
    * direction is the only
    * driver state (the kmeans centroid-pull pattern). ENTIRELY in
    * integer arithmetic: coordinates quantized once; each round ends
    * with an integer rescale w div max(1, max|w| div 1e6), keeping
    * DIRECTION coordinates ≤ ~1e6 so each PER-ROW product x·(xᵀv)
    * stays well under BIGINT (≈ dim·Q²·1e6 per element). The
    * AGGREGATED sum Σ_rows x·(xᵀv) grows linearly with row count and
    * would overflow BIGINT near n·dim ≈ 9e18/(Q²·1e6) ≈ 1e5 row·dims,
    * so the per-round reduction is an EXACT 128-bit sum: per-element
    * contributions cast to DECIMAL(38,0) and hash-aggregated by
    * dimension index (native codegen'd sum — envelope 1e38, beyond
    * any corpus), matching the DuckDB oracle's HUGEINT sum digit for
    * digit. Only the RESCALED direction must fit BIGINT, and the
    * ≤ ~1e6 rescale guarantees that at any n. Deterministic where a
    * float normalize would drift per round; the oracle unrolls the
    * SAME rounds as chained CTEs, bit for bit.
    *
    * Returns (dim_idx, v) — the unnormalized fixed-point direction
    * after `rounds` iterations (direction, not unit vector: callers
    * normalize in float for reporting only).
    */
  def powerIteration(points: DataFrame, embCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds must be 1..20, got $rounds")
    import graft.core.GraftSession.LineageOps
    val spark = points.sparkSession
    val q = points.select(quantize(col(embCol)).as("_pi_q"))
      .where(size(col("_pi_q")) > 0)
      .truncateLineage()
    val first = q.take(1)
    require(first.nonEmpty,
      "powerIteration requires at least one non-empty embedding")
    val dim = first(0).getSeq[Long](0).size
    var v: Array[Long] = Array.fill(dim)(1L)
    var r = 0
    while (r < rounds) {
      val rows = powerIterationRoundPlan(q, v).collect()
      val w = new Array[BigInt](dim)
      rows.foreach(rr => w(rr.getInt(0)) = BigInt(rr.getDecimal(1).toBigInteger))
      val dRaw = w.map(_.abs).max / BigInt(1000000L)
      val d = if (dRaw < 1) BigInt(1) else dRaw
      // BigInt `/`, Long `/` and DuckDB `//` all truncate toward zero,
      // and |w/d| ≤ ~2e6, so the narrowing is exact and safe.
      v = w.map(x => (x / d).toLong)
      r += 1
    }
    import spark.implicits._
    v.zipWithIndex.map { case (x, j) => (j.toLong, x) }.toSeq
      .toDF("dim_idx", "v")
  }
}
