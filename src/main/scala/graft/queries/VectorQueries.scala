package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Clustering, Similarity}

/** Similarity-search extension queries over `embeddings`
  * (array<float>, 64-dim). Brute-force cosine top-k is the
  * oracle-checked baseline (bit-identical double math with DuckDB);
  * the bounded-heap aggregator form shares the same oracle; LSH is the
  * recall-lossy scale path (rows-only + ScalaTest recall spec).
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  val K = 5
  val KmeansK = 8
  val KmeansRounds = 3
  val SemDedupTau = 0.40
  /** SemDeDup cluster sizing: the within-cluster pair join costs
    * Σ size², so a FIXED k saturates exactly like an absolute support
    * threshold — at 10× the corpus, clusters are 10× larger and pair
    * work is 100×. The paper's own doctrine is "raise k, not τ, when
    * clusters grow" (SCALE.md); k tracks the corpus as
    * max(KmeansK, min(SemDedupMaxK, n div SemDedupPerCluster)), so the
    * expected cluster size stays ≈ SemDedupPerCluster and pair work
    * grows linearly until the cap. The cap is
    * [[Clustering.kmeansFixedPoint]]'s own k ≤ 64 envelope (centroids
    * ride the assignment closure as literal arrays); past it, raise
    * the envelope via a broadcast-join argmin before raising the cap.
    * At every driver gate tier (n ≤ 2000) the formula evaluates to
    * KmeansK, so small-scale results and plan pins are unchanged;
    * engine and oracle both derive k from the SAME constants — the
    * engine in [[semDedupK]] from a memoized pre-plan count, the
    * oracle inside the SQL ([[semDedupKSql]], the
    * basket_association_rules single-sourcing rule).
    */
  val SemDedupPerCluster = 250L
  val SemDedupMaxK = 64L
  /** Two-level clustering gate constants: small enough that the
    * oracle's unrolled coarse+fine CTE chain stays tractable, big
    * enough that both levels genuinely partition the fixture
    * (kc·kf = 16 effective clusters over ≥500 vectors).
    */
  val K2Kc = 4
  val K2Kf = 4

  private[graft] def semDedupK(n: Long): Int =
    math.max(KmeansK.toLong, math.min(SemDedupMaxK, n / SemDedupPerCluster)).toInt

  /** SQL twin of [[semDedupK]] over the kmeans chain's `q` CTE (same
    * cardinality as the source table; reading the materialized CTE
    * keeps the count behind the embeddings quarantine mirror). DuckDB
    * accepts a scalar subquery as a LIMIT operand.
    */
  private def semDedupKSql: String =
    s"(SELECT greatest($KmeansK, least($SemDedupMaxK, count(*) // $SemDedupPerCluster)) FROM q)"

  /** Scale-relative COARSE cell count for the two-level SemDeDup: the
    * same per-cluster-size doctrine as [[semDedupK]], but the target
    * size divides across kc·kf effective clusters, so kc tracks
    * n / (perCluster · kf). Gate tiers (n ≤ 2000) stay at the K2Kc
    * floor; the cap is the coarse fit's own ≤ 64 envelope — with kf
    * fixed at K2Kf that is 64·4 = 256 effective clusters before the
    * next lever (raising kf toward 64) is needed.
    */
  private[graft] def semDedup2lKc(n: Long): Int =
    math.max(K2Kc.toLong,
      math.min(SemDedupMaxK, n / (SemDedupPerCluster * K2Kf))).toInt

  private def semDedup2lKcSql: String =
    s"(SELECT greatest($K2Kc, least($SemDedupMaxK, " +
      s"count(*) // ${SemDedupPerCluster * K2Kf})) FROM q)"

  /** Embeddings row count, one pre-plan scalar job per corpus stamp.
    * The oracle's scale-relative-k subquery recomputes count(*) live
    * per run, so a corpus refreshed IN PLACE must re-count here too or
    * the engine's k silently goes stale against the oracle's: the
    * [[graft.core.ArtifactMemo]] stamp key moves with the rewrite.
    */
  private val nEmbMemo = new graft.core.ArtifactMemo[Long]
  private def embInput(dir: String): Seq[String] = Seq(Tables.path(dir, "embeddings"))
  private def embCount(spark: SparkSession, dir: String): Long =
    nEmbMemo.get(spark, embInput(dir)) { Tables.embeddings(spark, dir).count() }

  /** Trained-codebook memos (verdict r15 item 1): five of the twelve
    * slowest bench queries re-ran an identical Lloyd fit — R rounds of
    * full-corpus aggregation plus a checkpoint — on the same corpus
    * per query. The fits are deterministic functions of
    * (corpus stamp, trainFilter, k/kc/kf, rounds) and their results
    * are bounded driver arrays, memoized like the graph tier's shared
    * artifacts. Oracle semantics untouched: the oracle re-derives
    * training per query either way and the results are bit-identical.
    */
  private val flatCentMemo = new graft.core.ArtifactMemo[Seq[(Long, Array[Long])]]
  private val twoLevelMemo = new graft.core.ArtifactMemo[Clustering.TwoLevelCodebook]
  /** evenOnly = the frozen-codebook incremental contract's training
    * snapshot (vec_id % 2 = 0); full = train on the whole corpus.
    */
  private def trainedFlat(spark: SparkSession, dir: String, evenOnly: Boolean,
                          k: Int, rounds: Int): Seq[(Long, Array[Long])] =
    flatCentMemo.get(spark, embInput(dir), s"even=$evenOnly|k=$k|r=$rounds") {
      val emb = Tables.embeddings(spark, dir)
      Clustering.kmeansCentroids(
        if (evenOnly) emb.where(col("vec_id") % 2 === 0) else emb,
        "vec_id", "embedding", k, rounds)
    }
  private def trained2l(spark: SparkSession, dir: String, evenOnly: Boolean,
                        kc: Int, kf: Int, rounds: Int): Clustering.TwoLevelCodebook =
    twoLevelMemo.get(spark, embInput(dir), s"even=$evenOnly|kc=$kc|kf=$kf|r=$rounds") {
      val emb = Tables.embeddings(spark, dir)
      Clustering.kmeansTwoLevelCodebook(
        if (evenOnly) emb.where(col("vec_id") % 2 === 0) else emb,
        "vec_id", "embedding", kc, kf, rounds)
    }
  /** 1-in-200 of the corpus are queries — keeps the brute-force
    * all-pairs work bounded at bench scale.
    */
  val QueryMod = 200

  /** DuckDB twin of the zero-norm query exclusion in [[queriesDf]].
    * Deliberately ARITHMETIC-FREE: DuckDB reorders WHERE conjuncts, so
    * this predicate can be evaluated on rows the embeddings quarantine
    * has not yet excluded — a list_dot_product here errored on
    * null-component vectors. For admissible (all-finite) vectors,
    * "some component is non-zero" ⟺ norm > 0.
    */
  private val qAdmissibleSql: String =
    "len(list_filter(embedding, x -> x IS NOT NULL AND x <> 0)) > 0"

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).where(col("vec_id") % QueryMod === 0 &&
      // a zero-norm QUERY has no cosine ranking at all: every
      // candidate scores 0/0 (null) — the window forms would emit k
      // arbitrary null-score rows while the typed aggregator emits
      // none. Inadmissible as a query on both engines (fuzz finding).
      // COMPONENT-based, mirroring qAdmissibleSql exactly: dot(e, e)
      // > 0 square-underflows to 0.0 for components below ~1.5e-162,
      // so the arithmetic form would exclude a subnormal-only vector
      // the oracle keeps. "some component non-zero" has no underflow.
      exists(col("embedding"), x => x =!= 0))

  val queries: Map[String, Q] = Map(
    "ann_bruteforce_topk" -> ((spark, dir) => {
      Similarity.bruteForceTopK(
        Tables.embeddings(spark, dir), queriesDf(spark, dir), K)
    }),

    "ann_aggregator_topk" -> ((spark, dir) => {
      Similarity.aggregatorTopK(spark,
        Tables.embeddings(spark, dir), queriesDf(spark, dir), K)
    }),

    // LSH-bucketed ANN (recall-lossy; rows-only check).
    "ann_lsh_topk" -> ((spark, dir) => {
      Similarity.lshTopK(
        Tables.embeddings(spark, dir), queriesDf(spark, dir), K)
    }),

    // Multi-probe LSH: each query also probes the 8 buckets one
    // hyperplane-bit away — recall without more hash tables. Oracle is
    // the same exact signature-rebuild join as single-probe, with the
    // probe expansion mirrored.
    "ann_lsh_multiprobe" -> ((spark, dir) => {
      Similarity.lshMultiProbeTopK(
        Tables.embeddings(spark, dir), queriesDf(spark, dir), K)
    }),

    // IVF ANN (Lloyd-trained coarse quantizer + nProbe cell search),
    // wrapped in the recall harness: the oracle asserts mean recall vs
    // brute force ≥ 0.5 and rank-shape validity over every query.
    "ann_ivf_topk" -> ((spark, dir) => {
      val corpus = Tables.embeddings(spark, dir)
      val q = queriesDf(spark, dir)
      Similarity.recallHarness(
        Similarity.ivfTopK(corpus, q, K),
        Similarity.bruteForceTopK(corpus, q, K),
        minAvgRecall = 0.5)
    }),

    // IVF with the corpus bucketed AT REST (partitionBy cell, probe
    // via partition pruning) — the serving layout, demonstrated end to
    // end and held to the same recall harness as the in-memory form.
    "ann_ivf_bucketed" -> ((spark, dir) => {
      val corpus = Tables.embeddings(spark, dir)
      val q = queriesDf(spark, dir)
      val restDir = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_ivf_rest_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
      Similarity.recallHarness(
        Similarity.ivfBucketedTopK(corpus, q, K, restDir),
        Similarity.bruteForceTopK(corpus, q, K),
        minAvgRecall = 0.5)
    }),

    // PQ/ADC ANN (per-subspace Lloyd codebooks, native encode/table/
    // score kernels), same harness. Floor 0.15: far above the random
    // baseline k/N yet safe for the blind spots of an 8×-compressed
    // code on near-random fixture embeddings.
    "ann_pq_topk" -> ((spark, dir) => {
      val corpus = Tables.embeddings(spark, dir)
      val q = queriesDf(spark, dir)
      Similarity.recallHarness(
        Similarity.pqTopK(corpus, q, K),
        Similarity.bruteForceTopK(corpus, q, K),
        minAvgRecall = 0.15)
    }),

    // IVF-PQ: coarse-cell pruning × ADC table scoring composed — the
    // billion-scale serving index shape. Both axes are recall-lossy,
    // so the floor sits under the PQ-alone floor (cell prune can only
    // drop candidates PQ would have kept).
    "ann_ivfpq_topk" -> ((spark, dir) => {
      val corpus = Tables.embeddings(spark, dir)
      val q = queriesDf(spark, dir)
      Similarity.recallHarness(
        Similarity.ivfPqTopK(corpus, q, K),
        Similarity.bruteForceTopK(corpus, q, K),
        minAvgRecall = 0.1)
    }),

    // Two-stage retrieval: IVF-PQ coarse pool (4k candidates) → exact
    // cosine rerank → top-k. The rerank_dominates boolean is a
    // THEOREM, not a tuned floor: rerank orders the pool by the same
    // rounded-cosine + id order as the ground truth, so every true
    // neighbor in the pool is kept — per-query hits can only match or
    // beat the plain ADC cut.
    "ann_ivfpq_rerank" -> ((spark, dir) => {
      val corpus = Tables.embeddings(spark, dir)
      val q = queriesDf(spark, dir)
      val brute = Similarity.bruteForceTopK(corpus, q, K)
      val adc = Similarity.ivfPqTopK(corpus, q, K)
      val rr = Similarity.ivfPqRerankTopK(corpus, q, K)
      // ONE three-way union-tag plan: the former shape (two hit-count
      // joins + the recall harness, each re-referencing brute/rr)
      // re-executed the brute-force pass 3× and the ADC+rerank
      // pipeline 3× — 51 parquet scans in the r16 final plan. Here
      // every pipeline is referenced exactly once; recall, rank shape
      // and the domination verdict all fold out of one
      // per-(query, neighbor) aggregation (the recallShapeFrame
      // pattern, extended with the adc membership flag). No
      // checkpoint/persist: an eager checkpoint serialized extra job
      // launches (1.29 → 1.72 s measured) and a lazy persist is
      // result caching across bench iterations.
      def tag(df: DataFrame, b: Int, r: Int, a: Int, withRank: Boolean) =
        df.select(col("query_id"), col("neighbor_id"),
          lit(b).cast("long").as("_b"), lit(r).cast("long").as("_r"),
          lit(a).cast("long").as("_a"),
          (if (withRank) col("rank").cast("long")
           else lit(null).cast("long")).as("_rank"),
          (if (withRank) col("score").cast("double")
           else lit(null).cast("double")).as("_score"))
      val perPair = tag(brute, 1, 0, 0, withRank = false)
        .unionByName(tag(rr, 0, 1, 0, withRank = true))
        .unionByName(tag(adc, 0, 0, 1, withRank = false))
        .groupBy("query_id", "neighbor_id")
        .agg(max(col("_b")).as("in_b"), max(col("_r")).as("in_r"),
          max(col("_a")).as("in_a"),
          max(when(col("_r") === 1L, col("_rank"))).as("r_rank"),
          max(when(col("_r") === 1L, col("_score"))).as("r_score"))
      val perQuery = perPair
        .groupBy("query_id")
        .agg(
          sum(col("in_b")).as("n_b"),
          sum(col("in_b") * col("in_r")).as("h_rr"),
          sum(col("in_b") * col("in_a")).as("h_adc"),
          sum(col("in_r")).as("n_r"),
          max(col("r_rank")).as("max_rank"),
          count_distinct(col("r_rank")).as("n_ranks"),
          sort_array(collect_list(when(col("in_r") === 1L,
            struct(col("r_rank").as("rank"), col("r_score").as("score")))))
            .as("rs"))
        .where(col("n_b") > 0L)
      perQuery.agg(
        count(lit(1)).as("n_queries"),
        (avg(col("h_rr") / col("n_b")) >= 0.1).as("recall_ok"),
        coalesce(bool_and(when(col("n_r") > 0L,
          col("max_rank") === col("n_r") && col("n_ranks") === col("n_r") &&
            when(size(col("rs")) <= 1, lit(true)).otherwise(
              expr("forall(transform(sequence(1, size(rs) - 1)," +
                " i -> rs[i].score <= rs[i - 1].score), x -> x)")))),
          lit(true)).as("ranks_ok"),
        bool_and(col("h_rr") >= col("h_adc")).as("rerank_dominates"))
    }),

    // Top principal direction by 4 rounds of integer power iteration
    // (covariance-free PCA step): per round one zero-shuffle dot
    // projection + one exact DECIMAL(38,0) hash-agg (128-bit past the
    // BIGINT envelope, HUGEINT in the oracle); integer rescale instead
    // of a float normalize, so the oracle unrolls the SAME rounds bit
    // for bit.
    "vec_power_iteration" -> ((spark, dir) => {
      graft.operators.Clustering.powerIteration(
        Tables.embeddings(spark, dir), "embedding", rounds = 4)
    }),

    // Late-interaction (ColBERT-style) MaxSim retrieval: multi-vector
    // docs (4 token vectors per doc, carved from vec_id), score =
    // Σ over query tokens of the best-matching corpus token cosine.
    // Per-token cosines quantized floor(1e6·cos) so the MaxSim sum is
    // an order-free BIGINT — no float-summation drift between
    // engines. Scale shape: query tokens broadcast (an eval/query
    // set is bounded), one corpus-token pass, two map-side-combinable
    // aggs (per-qtoken max → per-pair sum), top-3 per query under a
    // total order.
    "ann_maxsim_topk" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks2 = Tables.embeddings(spark, dir)
        .select(expr("vec_id div 4").as("d"), pmod(col("vec_id"), lit(4L)).as("t"),
          col("embedding"), Similarity.norm(col("embedding")).as("nrm"))
      val q = broadcast(toks2.where(col("d") % 100 === 0)
        .select(col("d").as("qd"), col("t").as("qt"),
          col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
      val w = Window.partitionBy(col("qd"))
        .orderBy(col("score_x1e6").desc, col("cd").asc)
      toks2.select(col("d").as("cd"), col("embedding").as("c_emb"),
          col("nrm").as("c_nrm"))
        .join(q, col("cd") =!= col("qd"))
        .withColumn("cos_x1e6",
          floor(lit(1000000.0) * Similarity.dot(col("q_emb"), col("c_emb")) /
            nullif(col("q_nrm") * col("c_nrm"), lit(0.0))).cast("long"))
        .groupBy("qd", "cd", "qt").agg(max(col("cos_x1e6")).as("mx"))
        .groupBy("qd", "cd").agg(sum(col("mx")).as("score_x1e6"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("qd").as("query_doc"), col("rank").cast("long").as("rank"),
          col("cd").as("neighbor_doc"), col("score_x1e6"))
    }),

    // Matryoshka prefix-dim retrieval: coarse cosine on the first 32
    // of 64 coordinates (half the bandwidth/FLOPs), exact full-vector
    // rerank of the 4k pool. Recall-harness gated like every lossy
    // first stage.
    "ann_matryoshka_topk" -> ((spark, dir) => {
      val corpus = Tables.embeddings(spark, dir)
      val q = queriesDf(spark, dir)
      Similarity.recallHarness(
        Similarity.matryoshkaTopK(corpus, q, K, prefixDim = 32),
        Similarity.bruteForceTopK(corpus, q, K),
        minAvgRecall = 0.3)
    }),

    // Cross-modal: do embedding near-dups agree with text near-dups?
    // Joins the similarity and text-dedup families over the shared id
    // space; emits both signals per candidate pair. Pair generation is
    // the exact angular-band equi-join (no cartesian in the plan; same
    // result as all-pairs by the triangle-inequality completeness
    // argument on Similarity.cosinePairsAbove).
    "xmodal_dup_agreement" -> ((spark, dir) => {
      import graft.expressions.GraftFunctions
      val sample = Tables.embeddings(spark, dir).where(col("vec_id") % 5 === 0)
      val embPairs = Similarity.cosinePairsAbove(sample, "vec_id", "embedding", 0.3)
      val docs = Tables.documents(spark, dir).select(
        col("doc_id"),
        array_distinct(GraftFunctions.hashedShingles(col("text"), 2)).as("sh"))
      // Shingle attachments are PLAIN equi-joins: documents is
      // corpus-scale, so forcing a broadcast would OOM at 100 TB — the
      // planner broadcasts whichever side actually fits (at fixture
      // scale that is the pair table, which is tiny after the cosine
      // filter).
      embPairs
        .join(docs.select(col("doc_id").as("vec_a"), col("sh").as("sh_a")), Seq("vec_a"))
        .join(docs.select(col("doc_id").as("vec_b"), col("sh").as("sh_b")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"), col("cos"),
          round(graft.functions.TextFns.jaccard(col("sh_a"), col("sh_b")), 4).as("text_jaccard"))
    }),

    // Embedding-cosine near-dup pairs over a 1-in-5 sample — exact
    // angular-band equi-join, not a crossJoin (same oracle as the
    // all-pairs form; see Similarity.cosinePairsAbove for why this is
    // complete where LSH banding would drop borderline pairs).
    "dedup_embedding_cosine" -> ((spark, dir) => {
      val sample = Tables.embeddings(spark, dir).where(col("vec_id") % 5 === 0)
      Similarity.cosinePairsAbove(sample, "vec_id", "embedding", 0.35)
    }),

    // Linear-model scoring at corpus scale — the trained-classifier
    // filter stage of a curation pipeline (fastText/logreg quality
    // gate): a literal weight vector rides the plan (no join, no
    // shuffle), the margin w·x+b is a zero-shuffle projection, and
    // the accept decision thresholds the margin directly — sigmoid is
    // monotone, so serving never computes exp(). Weights are the same
    // deterministic sin-derived literals the JL projection uses, so
    // both engines score with bit-identical parameters.
    "score_linear_classifier" -> ((spark, dir) => {
      val ed = col("embedding").cast("array<double>")
      val w = array((0 until 64).map(d => lit(math.sin(101 + d) / 2)): _*)
      val margin = Similarity.dot(ed, w) + lit(0.05)
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), round(margin, 4).as("margin"),
          (margin > 0.0).as("accepted"))
    }),

    // Johnson–Lindenstrauss random projection 64→16 (Achlioptas ±1
    // weights, deterministic literal matrix): the standard pre-step
    // when the dot product itself dominates ANN cost. Zero-shuffle
    // projection; emitted long-form so every projected component is
    // hash-checked against the oracle's identical literal matrix.
    "vec_random_projection" -> ((spark, dir) => {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(
          Similarity.randomProject(col("embedding"), 64, 16)).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("v"), 4).as("v"))
    }),

    // Symmetric int8 quantization — the 4× storage/bandwidth lever for
    // embedding corpora at 100 TB: per-vector scale = max|x|/127,
    // codes = round(x/scale) ∈ [-127, 127]. A zero-shuffle projection;
    // the oracle checks the quantization CONTRACT (codes in range,
    // reconstruction error ≤ scale/2 per element, dequantized cosine
    // ≈ 1) plus the exact scale — round() ties are engine-specific, so
    // codes themselves stay out of the hash (the a8/recall-harness
    // pattern for cross-engine-unstable values).
    "vec_int8_quantize" -> ((spark, dir) => {
      val ed = col("embedding").cast("array<double>")
      // guard: an all-zero vector has scale 0 — quantizes to all-zero
      // codes with zero error; the greatest() keeps x/scale finite.
      val scale = greatest(array_max(transform(ed, x => abs(x))) / 127.0, lit(1e-30))
      Tables.embeddings(spark, dir)
        .withColumn("scale", scale)
        .withColumn("codes", transform(ed, x => round(x / col("scale")).cast("int")))
        .withColumn("deq", transform(col("codes"), c => c.cast("double") * col("scale")))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          forall(col("codes"), c => c.between(-127, 127)).as("codes_in_range"),
          (aggregate(zip_with(ed, col("deq"), (x, d) => abs(x - d)),
            lit(0.0), (acc, e) => greatest(acc, e)) <=
            col("scale") * 0.5 + lit(1e-12)).as("err_ok"),
          // a zero-norm side makes the cosine 0/0 — a zero input
          // vector, OR a sub-quantum one whose codes all round to 0
          // through the clamped scale floor (deq = 0 while ed ≠ 0) —
          // so assert the contract directly instead of dividing by a
          // zero norm (ANSI aborts on it): in both cases the honest
          // statement is "the codes are exactly zero"
          when(Similarity.dot(ed, ed) === 0.0 ||
              Similarity.dot(col("deq"), col("deq")) === 0.0,
            forall(col("codes"), c => c === 0))
            .otherwise(Similarity.dot(ed, col("deq")) /
              (sqrt(Similarity.dot(ed, ed)) * sqrt(Similarity.dot(col("deq"), col("deq"))))
              >= 0.999).as("cos_ok"))
    }),

    // Corpus-scale integer-exact k-means (k=8, 3 Lloyd rounds + final
    // assignment): the clustering stage of SemDeDup-style curation.
    // Fixed-point coordinates make every round BIGINT-deterministic,
    // so the oracle unrolls the same rounds as chained CTEs and the
    // full per-vector assignment matches bit for bit. Each round is
    // one treeAggregate job over the persisted quantized rows, with no
    // exchange and no re-scan; assignment is a zero-shuffle map (the
    // centroid table is one native-expression constant).
    "cluster_kmeans" -> ((spark, dir) => {
      Clustering.assignToCentroids(Tables.embeddings(spark, dir),
        "vec_id", "embedding",
        trainedFlat(spark, dir, evenOnly = false, KmeansK, KmeansRounds))
    }),

    // Frozen-codebook incremental assignment: train k-means ONCE on a
    // corpus snapshot (here the even-id half), then assign EVERY
    // vector — including the "new" odd-id increment — against the
    // frozen centroids. Clusters stay comparable across daily
    // increments because the codebook never moves; assignment of an
    // increment is the same zero-shuffle literal-centroid map.
    "cluster_assign_incremental" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val cents = trainedFlat(spark, dir, evenOnly = true, KmeansK, KmeansRounds)
      Clustering.assignToCentroids(emb, "vec_id", "embedding", cents)
        .withColumn("is_new", col("vec_id") % 2 =!= 0)
    }),

    // Embedding-space drift between snapshots: train the codebook on
    // the OLD snapshot (even ids), assign both snapshots against the
    // frozen centroids, and PSI the two cluster histograms — the
    // distribution-shift monitor an embedding pipeline runs per
    // increment (drift_psi's recipe lifted from a scalar bucket to
    // learned cluster space). Histograms are exact integers over the
    // full k-cluster domain (empty clusters kept, add-one smoothed);
    // PSI is a k-term double sum rounded at 4 dp (the drift_psi
    // convention). Everything past the assignment pass is k-row work.
    "drift_cluster_shift" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      // shares cluster_assign_incremental's trained-on-even codebook
      val cents = trainedFlat(spark, dir, evenOnly = true, KmeansK, KmeansRounds)
      val hist = Clustering.assignToCentroids(emb, "vec_id", "embedding", cents)
        .groupBy("cluster")
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_old"),
          sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_new"))
      import spark.implicits._
      val domain = cents.map(_._1).toDF("cluster")
      val full = domain.join(hist, Seq("cluster"), "left")
        .na.fill(0L, Seq("n_old", "n_new"))
      val tot = full.agg(sum(col("n_old")).as("t_o"), sum(col("n_new")).as("t_n"))
      val kD = KmeansK.toDouble
      val terms = full.crossJoin(tot)
        .withColumn("p", (col("n_old") + 1) / (col("t_o") + kD))
        .withColumn("q", (col("n_new") + 1) / (col("t_n") + kD))
        .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      import org.apache.spark.sql.expressions.Window
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      terms
        .select(col("cluster"), col("n_old"), col("n_new"),
          round(col("term"), 4).as("psi_term"),
          round(sum(col("term")).over(w), 4).as("psi_total"))
        .withColumn("drifted", col("psi_total") > 0.25)
    }),

    // Greedy k-center coreset selection (farthest-first traversal):
    // the diversity-maximizing pick for data pruning — complements
    // kmeans (mass balance) with coverage. Integer distances + lowest-
    // id ties make all k rounds deterministic; the oracle unrolls the
    // same farthest-first chain and the full nearest-center assignment
    // matches bit for bit.
    "select_kcenter" -> ((spark, dir) => {
      Clustering.kCenterSelect(Tables.embeddings(spark, dir),
        "vec_id", "embedding", k = KmeansK)
    }),

    // Two-level (coarse→fine) k-means: effective k = kc·kf with
    // per-row assignment cost O(kc + kf) — the hierarchy that takes
    // cluster counts past the flat fit's k ≤ 64 literal-centroid
    // envelope (SemDeDup's corpus-scale regime runs k in the
    // thousands). One distributed job per fine round fits ALL kc
    // sub-problems at once. The oracle runs the coarse chain, seeds
    // kf lowest ids per cell, unrolls the same fine rounds joined
    // per cell, and the full (cell, fine, qdist) assignment matches
    // bit for bit.
    "cluster_kmeans_2l" -> ((spark, dir) => {
      Clustering.assignToTwoLevel(Tables.embeddings(spark, dir),
        "vec_id", "embedding",
        trained2l(spark, dir, evenOnly = false, K2Kc, K2Kf, KmeansRounds))
    }),

    // Frozen TWO-LEVEL codebook incremental assignment: train both
    // levels once on the even-id snapshot, then assign every vector —
    // including the odd-id "increment" — in ONE zero-shuffle fused
    // projection (coarse argmin picks the cell, the cell's fine slice
    // argmins within; no join, O(kc + kf) comparisons/row). The
    // hierarchy's daily-curation path, mirroring
    // cluster_assign_incremental.
    "cluster_assign_incremental_2l" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val cb = trained2l(spark, dir, evenOnly = true, K2Kc, K2Kf, KmeansRounds)
      Clustering.assignToTwoLevel(emb, "vec_id", "embedding", cb)
        .withColumn("is_new", col("vec_id") % 2 =!= 0)
    }),

    // SemDeDup: cluster-then-dedup semantic near-dup removal — the
    // quadratic cosine join is confined to k-means clusters
    // (Σ size² not n²), dup groups close via connected components,
    // lowest id per group survives. k is SCALE-RELATIVE (see
    // [[semDedupK]]): fixed k would let cluster sizes — and the pair
    // join — grow quadratically with the corpus. The oracle reruns
    // the exact kmeans CTE chain (its seed LIMIT computes the same k
    // from the same constants), the same rounded-cosine pair
    // predicate, and a recursive-CTE closure — per-vector verdicts
    // match bit for bit.
    "dedup_semantic" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val cents = trainedFlat(spark, dir, evenOnly = false,
        semDedupK(embCount(spark, dir)), KmeansRounds)
      Clustering.semanticDedupFrom(
        // the embedding rides the zero-shuffle assignment projection
        // (keepCols) so semanticDedupFrom skips the corpus-sized
        // id-keyed re-attach join when building its pair-join frame
        Clustering.assignToCentroids(emb, "vec_id", "embedding", cents,
          keepCols = Seq("embedding")),
        emb, "vec_id", "embedding", tau = SemDedupTau)
    }),

    // SemDeDup over the two-level clustering — the composition the
    // hierarchy exists for: the quadratic cosine join confined to
    // kc·kf cells instead of ≤ 64. Same pair predicate, closure, and
    // verdict contract as dedup_semantic. kc is SCALE-RELATIVE
    // ([[semDedup2lKc]] — a fixed kc saturates exactly like fixed
    // flat k; measured 15.5 s at the 10× tier before this, 4-ish
    // after); kf stays fixed, the next lever once kc caps at 64.
    "dedup_semantic_2l" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val cb = trained2l(spark, dir, evenOnly = false,
        semDedup2lKc(embCount(spark, dir)), K2Kf, KmeansRounds)
      Clustering.semanticDedupFrom(
        // embedding passthrough — same re-attach-join avoidance as
        // dedup_semantic's flat path
        Clustering.assignToTwoLevel(emb, "vec_id", "embedding", cb,
          keepCols = Seq("embedding")),
        emb, "vec_id", "embedding", tau = SemDedupTau)
    }),

    // Feature standardization: per-dimension z-score stats over the
    // corpus, then each vector's standardized L2 norm. The stats frame
    // is dimension-sized (64 rows) → broadcast back; both aggregations
    // are partial-combinable, so the plan is two narrow shuffles
    // regardless of corpus size. A ZERO-VARIANCE dimension (real
    // embedding corpora pad with constant dims) contributes 0 — its
    // every value equals the mean, and the unguarded (v−m)/sd would
    // abort the job under ANSI double division-by-zero.
    "vec_standardize" -> ((spark, dir) => {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v", col("v").cast("double"))
      val stats = e.groupBy("pos")
        .agg(avg(col("v")).as("m"), stddev_samp(col("v")).as("sd"))
      val term = when(col("sd") === 0.0, lit(0.0))
        .otherwise(pow((col("v") - col("m")) / col("sd"), 2))
      e.join(broadcast(stats), Seq("pos"))
        .groupBy("vec_id")
        .agg(round(sqrt(sum(term)), 4).as("znorm"))
    })
  )

  /** Generated twin of [[Clustering.kmeansFixedPoint]]: quantize →
    * id-ordered seed → R unrolled (assign, update) rounds → final
    * assignment, every CTE MATERIALIZED (level i reads level i−1 more
    * than once — plain CTEs would re-inline the whole chain per
    * reference). `//` and `div` both truncate toward zero, so the
    * centroid updates agree even on negative coordinate sums. Yields
    * CTEs `q`, `c0..cR`, `a1..a{R+1}`; callers SELECT from the chain.
    * With `trainWhere` set, TRAINING (seed, per-round assignments,
    * updates) runs over the filtered subset `qt` while the final
    * assignment a{R+1} covers the full `q` — the frozen-codebook
    * incremental path.
    */
  private[queries] def kmeansCtes(k: Int, rounds: Int,
                                  trainWhere: Option[String] = None,
                                  kSql: Option[String] = None): String = {
    // kSql overrides the literal seed count with a SQL expression —
    // the scale-relative-k path (dedup_semantic); everything after the
    // seed CTE is k-agnostic, so only the LIMIT operand changes.
    val kLimit = kSql.getOrElse(k.toString)
    val trainSrc = if (trainWhere.isDefined) "qt" else "q"
    val quant =
      "list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 10000) AS BIGINT))"
    def assign(i: Int): String = {
      val src = if (i <= rounds) trainSrc else "q"
      val from = if (src == "q") "q" else s"$src q"
      s""", a$i AS MATERIALIZED (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM (
         |      SELECT q.vec_id, c.cid,
         |        CAST(list_sum(list_transform(list_zip(q.q, c.c),
         |          p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
         |      FROM $from CROSS JOIN c${i - 1} c
         |    )
         |  ) WHERE rn = 1
         |)""".stripMargin
    }
    def update(i: Int): String =
      s""", c$i AS MATERIALIZED (
         |  SELECT p.cid, coalesce(u.c, p.c) AS c
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT cid, list(comp ORDER BY pos) AS c FROM (
         |      SELECT cid, pos, CAST(sum(val) // count(*) AS BIGINT) AS comp
         |      FROM (
         |        SELECT a.cid, unnest(q.q) AS val, unnest(range(len(q.q))) AS pos
         |        FROM a$i a JOIN q ON a.vec_id = q.vec_id
         |      ) GROUP BY cid, pos
         |    ) GROUP BY cid
         |  ) u ON p.cid = u.cid
         |)""".stripMargin
    val body = (1 to rounds).map(i => assign(i) + update(i)).mkString + assign(rounds + 1)
    val qtCte = trainWhere.map(w =>
      s""", qt AS MATERIALIZED (
         |  SELECT vec_id, q FROM q WHERE $w
         |)""".stripMargin).getOrElse("")
    s"""q AS MATERIALIZED (
       |  SELECT vec_id, $quant AS q FROM embeddings
       |)$qtCte, c0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
       |  FROM (SELECT vec_id, q FROM $trainSrc ORDER BY vec_id LIMIT $kLimit)
       |)$body""".stripMargin
  }

  /** Generated twin of [[Clustering.kmeansTwoLevel]]: the flat coarse
    * chain ([[kmeansCtes]], yielding cells in a{R+1}) feeds a per-cell
    * fine fit — kf lowest-id seeds PER CELL, R unrolled (assign,
    * update) rounds where each vector joins ITS CELL's fine centroids
    * only, truncating `//` centroid updates with empty-cluster carry
    * (LEFT JOIN + coalesce), then a final assignment. Yields CTEs
    * through b{R+1} (vec_id, cell, fid, dist); callers SELECT from the
    * chain. Window partition keys (vec_id, cell) are never null, so
    * the DuckDB parallel-window hazard doesn't apply.
    */
  private[queries] def kmeans2lCtes(kc: Int, kf: Int, rounds: Int,
                                    kcSql: Option[String] = None,
                                    trainWhere: Option[String] = None): String = {
    // with trainWhere set, BOTH levels train on the filtered subset
    // (coarse via kmeansCtes' own qt path; fine seeds and per-round
    // assignments/updates over wt) while the final assignment b{R+1}
    // covers the full w — the frozen-codebook incremental path,
    // mirrored from the flat builder.
    val trainSrc = if (trainWhere.isDefined) "wt" else "w"
    // Frozen-codebook path: the FINAL assignment reads from wne — the
    // full-corpus coarse argmin RESTRICTED to non-empty cells (cells
    // the training subset actually reached). An increment vector whose
    // unrestricted argmin lands in a trained-empty cell has no fine
    // centroids to join; the engine assigns it to the nearest
    // non-empty cell (Clustering.assignToTwoLevel), and this mirrors
    // that contract exactly — without it the b{R+1} inner join on
    // cell would silently drop the row. Full-training path: every
    // w cell is non-empty by definition, w is already correct.
    val finalSrc = if (trainWhere.isDefined) "wne" else "w"
    def assign(i: Int): String = {
      val src = if (i <= rounds) trainSrc else finalSrc
      s""", b$i AS MATERIALIZED (
         |  SELECT vec_id, cell, fid, dist FROM (
         |    SELECT vec_id, cell, fid, dist,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, fid) AS rn
         |    FROM (
         |      SELECT w.vec_id, w.cell, f.fid,
         |        CAST(list_sum(list_transform(list_zip(w.q, f.c),
         |          p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
         |      FROM $src w JOIN f${i - 1} f ON w.cell = f.cell
         |    )
         |  ) WHERE rn = 1
         |)""".stripMargin
    }
    def update(i: Int): String =
      s""", f$i AS MATERIALIZED (
         |  SELECT p.cell, p.fid, coalesce(u.c, p.c) AS c
         |  FROM f${i - 1} p LEFT JOIN (
         |    SELECT cell, fid, list(comp ORDER BY pos) AS c FROM (
         |      SELECT cell, fid, pos, CAST(sum(val) // count(*) AS BIGINT) AS comp
         |      FROM (
         |        SELECT b.cell, b.fid, unnest(q.q) AS val,
         |          unnest(range(len(q.q))) AS pos
         |        FROM b$i b JOIN q ON b.vec_id = q.vec_id
         |      ) GROUP BY cell, fid, pos
         |    ) GROUP BY cell, fid
         |  ) u ON p.cell = u.cell AND p.fid = u.fid
         |)""".stripMargin
    val body = (1 to rounds).map(i => assign(i) + update(i)).mkString + assign(rounds + 1)
    // ne = cells the training rows reached under the FINAL coarse
    // centroids (exactly the cells that seed fine centroids in f0);
    // wne = the full corpus re-argmin'd against ONLY those cells'
    // centroids — the nearest-non-empty-cell contract for increments.
    val wtCte = trainWhere.map(w =>
      s""", wt AS MATERIALIZED (
         |  SELECT vec_id, q, cell FROM w WHERE $w
         |), ne AS MATERIALIZED (
         |  SELECT DISTINCT cell FROM wt
         |), wne AS MATERIALIZED (
         |  SELECT vec_id, q, cell FROM (
         |    SELECT vec_id, q, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM (
         |      SELECT q.vec_id, q.q, c.cid AS cell,
         |        CAST(list_sum(list_transform(list_zip(q.q, c.c),
         |          p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
         |      FROM q CROSS JOIN (
         |        SELECT c.cid, c.c FROM c$rounds c JOIN ne ON c.cid = ne.cell
         |      ) c
         |    )
         |  ) WHERE rn = 1
         |)""".stripMargin).getOrElse("")
    s"""${kmeansCtes(kc, rounds, kSql = kcSql, trainWhere = trainWhere)}, w AS MATERIALIZED (
       |  SELECT q.vec_id, q.q, a.cid AS cell
       |  FROM a${rounds + 1} a JOIN q ON a.vec_id = q.vec_id
       |)$wtCte, f0 AS MATERIALIZED (
       |  SELECT cell, CAST(rn - 1 AS BIGINT) AS fid, q AS c FROM (
       |    SELECT cell, q, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
       |    FROM $trainSrc
       |  ) WHERE rn <= $kf
       |)$body""".stripMargin
  }

  /** DuckDB twin of Similarity.lshSignature: the ±1 hyperplane weights
    * are evaluated HERE with java Math.sin (the same function Spark's
    * codegen calls) and emitted as literal arrays, so the oracle never
    * depends on the oracle engine's libm. Projections are strict
    * left-to-right double dots on both sides → identical sign bits.
    */
  private def lshSigSql(emb: String, dim: Int, nBits: Int): String = {
    val terms = (0 until nBits).map { p =>
      val w = (0 until dim)
        .map(d => if (math.sin(d + p * dim) >= 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($emb::DOUBLE[], $w::DOUBLE[]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }
    terms.mkString("(", " + ", ")")
  }

  private val lshMultiProbeOracle: String = {
    val sig = (e: String) => lshSigSql(e, 64, 8)
    val flips = (0L +: (0 until 8).map(b => 1L << b)).mkString("[", ", ", "]")
    // sigs MATERIALIZED: DuckDB 1.0 inlines plain CTEs and reorders
    // the dot-product projection BELOW the embeddings admissibility
    // filter, evaluating list_dot_product on quarantined (null-
    // component) rows — the graph_kcore inlining hazard in filter-
    // ordering form
    s"""WITH sigs AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${sig("embedding")} AS sig FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb,
       |    xor(sig::BIGINT, f.flip) AS sig
       |  FROM sigs, (SELECT unnest($flips::BIGINT[]) AS flip) f
       |  WHERE vec_id % $QueryMod = 0 AND $qAdmissibleSql
       |), scored AS (
       |  SELECT q.query_id, s.vec_id,
       |    round(${Similarity.cosineSql("q.q_emb", "s.embedding")}, 6) AS score
       |  FROM sigs s JOIN q ON s.sig = q.sig AND s.vec_id <> q.query_id
       |)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score FROM (
       |  SELECT query_id, vec_id AS neighbor_id, score,
       |    row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $K""".stripMargin
  }

  private val lshOracle: String = {
    val sig = (e: String) => lshSigSql(e, 64, 8)
    // sigs MATERIALIZED: same inlining hazard as lshMultiProbeOracle
    s"""WITH sigs AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${sig("embedding")} AS sig FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, sig FROM sigs
       |  WHERE vec_id % $QueryMod = 0 AND $qAdmissibleSql
       |), scored AS (
       |  SELECT q.query_id, s.vec_id,
       |    round(${Similarity.cosineSql("q.q_emb", "s.embedding")}, 6) AS score
       |  FROM sigs s JOIN q ON s.sig = q.sig AND s.vec_id <> q.query_id
       |)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score FROM (
       |  SELECT query_id, vec_id AS neighbor_id, score,
       |    row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $K""".stripMargin
  }

  private val topkOracle: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % $QueryMod = 0 AND $qAdmissibleSql
       |), scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    round(${Similarity.cosineSql("q.q_emb", "e.embedding")}, 6) AS score
       |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score FROM (
       |  SELECT query_id, vec_id AS neighbor_id, score,
       |    row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $K""".stripMargin

  private val recallHarnessOracle: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |  true AS recall_ok, true AS ranks_ok
       |FROM embeddings WHERE vec_id % $QueryMod = 0 AND $qAdmissibleSql""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_bruteforce_topk" -> topkOracle,
    "ann_aggregator_topk" -> topkOracle,
    "ann_lsh_topk" -> lshOracle,
    "ann_lsh_multiprobe" -> lshMultiProbeOracle,
    "ann_ivf_topk" -> recallHarnessOracle,
    "ann_ivf_bucketed" -> recallHarnessOracle,
    "ann_pq_topk" -> recallHarnessOracle,
    "ann_ivfpq_topk" -> recallHarnessOracle,

    "ann_ivfpq_rerank" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  true AS recall_ok, true AS ranks_ok, true AS rerank_dominates
         |FROM embeddings WHERE vec_id % $QueryMod = 0 AND $qAdmissibleSql""".stripMargin,

    "ann_matryoshka_topk" -> recallHarnessOracle,

    "vec_power_iteration" -> powerIterationSql(4),

    // Same token carving, same floor(1e6·cos) quantization, same
    // max-then-sum grouping and total-ordered top-3.
    "ann_maxsim_topk" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT vec_id // 4 AS d, vec_id % 4 AS t, embedding
         |  FROM embeddings
         |), q AS (
         |  SELECT d AS qd, t AS qt, embedding AS q_emb FROM t
         |  WHERE d % 100 = 0
         |), s AS (
         |  SELECT q.qd, c.d AS cd, q.qt,
         |    max(CAST(floor(1000000.0 *
         |      ${Similarity.cosineSql("q.q_emb", "c.embedding")}) AS BIGINT)) AS mx
         |  FROM t c JOIN q ON c.d <> q.qd
         |  GROUP BY 1, 2, 3
         |), p AS (
         |  SELECT qd, cd, CAST(sum(mx) AS BIGINT) AS score_x1e6
         |  FROM s GROUP BY 1, 2
         |)
         |SELECT qd AS query_doc, rank, cd AS neighbor_doc, score_x1e6 FROM (
         |  SELECT qd, cd, score_x1e6,
         |    row_number() OVER (
         |      PARTITION BY qd ORDER BY score_x1e6 DESC, cd ASC) AS rank
         |  FROM p
         |) WHERE rank <= 3""".stripMargin,

    "xmodal_dup_agreement" -> {
      val sh = graft.functions.TextFns.shinglesSql("string_split(text, ' ')", 2)
      s"""WITH s AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
         |), pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 4) AS cos
         |  FROM s a JOIN s b ON a.vec_id < b.vec_id
         |  WHERE round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 4) >= 0.3
         |), d AS (
         |  SELECT doc_id, list_distinct($sh) AS sh FROM documents
         |)
         |SELECT p.vec_a, p.vec_b, p.cos,
         |  round(${graft.functions.TextFns.jaccardSql("da.sh", "db.sh")}, 4) AS text_jaccard
         |FROM pairs p
         |JOIN d da ON p.vec_a = da.doc_id
         |JOIN d db ON p.vec_b = db.doc_id""".stripMargin
    },

    "score_linear_classifier" -> {
      val w = (0 until 64).map(d => s"${math.sin(101 + d) / 2}")
        .mkString("[", ", ", "]")
      s"""SELECT vec_id,
         |  round(list_dot_product(embedding::DOUBLE[], $w::DOUBLE[]) + 0.05, 4)
         |    AS margin,
         |  (list_dot_product(embedding::DOUBLE[], $w::DOUBLE[]) + 0.05) > 0.0
         |    AS accepted
         |FROM embeddings""".stripMargin
    },

    "vec_random_projection" -> {
      val rp = Similarity.randomProjectSql("embedding", 64, 16)
      s"""WITH p AS (
         |  SELECT vec_id, $rp AS rp FROM embeddings
         |)
         |SELECT vec_id, CAST(pos AS BIGINT) AS pos, round(v, 4) AS v FROM (
         |  SELECT vec_id, unnest(rp) AS v, unnest(range(16)) AS pos FROM p
         |)""".stripMargin
    },

    "vec_int8_quantize" ->
      """SELECT vec_id,
        |  round(greatest(
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0,
        |    1e-30), 6) AS scale,
        |  true AS codes_in_range, true AS err_ok, true AS cos_ok
        |FROM embeddings""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH s AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 4) AS cos
         |FROM s a JOIN s b ON a.vec_id < b.vec_id
         |WHERE round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 4) >= 0.35""".stripMargin,

    "cluster_kmeans" ->
      s"""WITH ${kmeansCtes(KmeansK, KmeansRounds)}
         |SELECT vec_id, cid AS cluster, dist AS qdist FROM a${KmeansRounds + 1}""".stripMargin,

    "cluster_kmeans_2l" ->
      s"""WITH ${kmeans2lCtes(K2Kc, K2Kf, KmeansRounds)}
         |SELECT vec_id, cell, fid AS fine, cell * $K2Kf + fid AS cluster,
         |  dist AS qdist
         |FROM b${KmeansRounds + 1}""".stripMargin,

    // Twin of the frozen two-level codebook path: both levels' training
    // CTEs over the even-id half (coarse qt, fine wt), final assignment
    // over the full corpus.
    "cluster_assign_incremental_2l" ->
      s"""WITH ${kmeans2lCtes(K2Kc, K2Kf, KmeansRounds, trainWhere = Some("vec_id % 2 = 0"))}
         |SELECT vec_id, cell, fid AS fine, cell * $K2Kf + fid AS cluster,
         |  dist AS qdist, vec_id % 2 <> 0 AS is_new
         |FROM b${KmeansRounds + 1}""".stripMargin,

    // Twin of dedup_semantic over the two-level chain: identical pair
    // predicate and recursive closure, partitioned by cell·kf + fid.
    "dedup_semantic_2l" ->
      s"""WITH RECURSIVE ${kmeans2lCtes(K2Kc, K2Kf, KmeansRounds, kcSql = Some(semDedup2lKcSql))}, w2 AS MATERIALIZED (
         |  SELECT b.vec_id AS id, b.cell * $K2Kf + b.fid AS cluster, e.embedding AS e
         |  FROM b${KmeansRounds + 1} b JOIN embeddings e ON b.vec_id = e.vec_id
         |), pr AS MATERIALIZED (
         |  SELECT x.id AS id_a, y.id AS id_b
         |  FROM w2 x JOIN w2 y ON x.cluster = y.cluster AND x.id < y.id
         |  WHERE round(${Similarity.cosineSql("x.e", "y.e")}, 4) >= $SemDedupTau
         |), sym AS (
         |  SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr
         |), reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |), lbl AS (
         |  SELECT a AS id, min(b) AS component FROM reach GROUP BY 1
         |)
         |SELECT w2.id AS vec_id, w2.cluster,
         |  coalesce(lbl.component, w2.id) AS canon,
         |  coalesce(lbl.component, w2.id) = w2.id AS keep
         |FROM w2 LEFT JOIN lbl ON w2.id = lbl.id""".stripMargin,

    // Twin of drift_cluster_shift: same trained-on-old chain, exact
    // k-domain histograms (range(k) left join), the same smoothed
    // k-term PSI sum.
    "drift_cluster_shift" ->
      s"""WITH ${kmeansCtes(KmeansK, KmeansRounds, Some("vec_id % 2 = 0"))}, h AS (
         |  SELECT cid AS cluster,
         |    sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_old,
         |    sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_new
         |  FROM a${KmeansRounds + 1} GROUP BY 1
         |), full_h AS (
         |  SELECT CAST(d.b AS BIGINT) AS cluster,
         |    coalesce(h.n_old, 0) AS n_old, coalesce(h.n_new, 0) AS n_new
         |  FROM (SELECT unnest(range($KmeansK)) AS b) d
         |  LEFT JOIN h ON d.b = h.cluster
         |), t AS (
         |  SELECT sum(n_old) AS t_o, sum(n_new) AS t_n FROM full_h
         |), terms AS (
         |  SELECT cluster, n_old, n_new,
         |    ((n_old + 1) / (t_o + $KmeansK.0) - (n_new + 1) / (t_n + $KmeansK.0)) *
         |      ln(((n_old + 1) / (t_o + $KmeansK.0)) /
         |         ((n_new + 1) / (t_n + $KmeansK.0))) AS term
         |  FROM full_h, t
         |)
         |SELECT cluster, CAST(n_old AS BIGINT) AS n_old,
         |  CAST(n_new AS BIGINT) AS n_new,
         |  round(term, 4) AS psi_term,
         |  round(sum(term) OVER (), 4) AS psi_total,
         |  round(sum(term) OVER (), 4) > 0.25 AS drifted
         |FROM terms""".stripMargin,

    // Twin of the frozen-codebook path: training CTEs over qt (the
    // even-id half), final assignment over the full corpus.
    "cluster_assign_incremental" ->
      s"""WITH ${kmeansCtes(KmeansK, KmeansRounds, Some("vec_id % 2 = 0"))}
         |SELECT vec_id, cid AS cluster, dist AS qdist,
         |  vec_id % 2 <> 0 AS is_new
         |FROM a${KmeansRounds + 1}""".stripMargin,

    // Twin of Clustering.kCenterSelect: quantize → lowest-id seed →
    // k−1 farthest-first rounds (max min-distance, lowest-id ties) →
    // nearest-center assignment, every CTE MATERIALIZED.
    "select_kcenter" -> {
      def dist(a: String, b: String) =
        s"CAST(list_sum(list_transform(list_zip($a, $b), " +
          "p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
      val quant =
        "list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 10000) AS BIGINT))"
      val rounds = (2 to KmeansK).map { i =>
        s""", c$i AS MATERIALIZED (
           |  SELECT q.vec_id AS cid, q.q AS c
           |  FROM m${i - 1} m JOIN q ON m.vec_id = q.vec_id
           |  ORDER BY m.md DESC, q.vec_id ASC LIMIT 1
           |), m$i AS MATERIALIZED (
           |  SELECT m.vec_id, least(m.md, ${dist("q.q", s"c$i.c")}) AS md
           |  FROM m${i - 1} m JOIN q ON m.vec_id = q.vec_id, c$i
           |)""".stripMargin
      }.mkString
      val cents = (1 to KmeansK).map(i => s"SELECT cid, c FROM c$i")
        .mkString(" UNION ALL ")
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id, $quant AS q FROM embeddings
         |), c1 AS MATERIALIZED (
         |  SELECT vec_id AS cid, q AS c FROM q ORDER BY vec_id LIMIT 1
         |), m1 AS MATERIALIZED (
         |  SELECT q.vec_id, ${dist("q.q", "c1.c")} AS md FROM q, c1
         |)$rounds, cents AS MATERIALIZED ($cents)
         |SELECT vec_id, cid AS center, dist AS qdist FROM (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM (
         |    SELECT q.vec_id, cents.cid, ${dist("q.q", "cents.c")} AS dist
         |    FROM q CROSS JOIN cents
         |  )
         |) WHERE rn = 1""".stripMargin
    },

    // Twin of Clustering.semanticDedup: the kmeans chain, the same
    // within-cluster rounded-cosine pair predicate, and a recursive
    // transitive closure labeled by min id (the mm_phash_clusters
    // closure pattern — WITH RECURSIVE governs the whole clause).
    "dedup_semantic" ->
      s"""WITH RECURSIVE ${kmeansCtes(KmeansK, KmeansRounds, kSql = Some(semDedupKSql))}, w AS MATERIALIZED (
         |  SELECT a.vec_id AS id, a.cid AS cluster, e.embedding AS e
         |  FROM a${KmeansRounds + 1} a JOIN embeddings e ON a.vec_id = e.vec_id
         |), pr AS MATERIALIZED (
         |  SELECT x.id AS id_a, y.id AS id_b
         |  FROM w x JOIN w y ON x.cluster = y.cluster AND x.id < y.id
         |  WHERE round(${Similarity.cosineSql("x.e", "y.e")}, 4) >= $SemDedupTau
         |), sym AS (
         |  SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr
         |), reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |), lbl AS (
         |  SELECT a AS id, min(b) AS component FROM reach GROUP BY 1
         |)
         |SELECT w.id AS vec_id, w.cluster,
         |  coalesce(lbl.component, w.id) AS canon,
         |  coalesce(lbl.component, w.id) = w.id AS keep
         |FROM w LEFT JOIN lbl ON w.id = lbl.id""".stripMargin,

    "vec_standardize" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    unnest(embedding)::DOUBLE AS v,
        |    unnest(range(len(embedding))) AS pos
        |  FROM embeddings
        |), s AS (
        |  SELECT pos, avg(v) AS m, stddev_samp(v) AS sd FROM e GROUP BY 1
        |)
        |SELECT vec_id,
        |  round(sqrt(sum(CASE WHEN sd = 0 THEN 0
        |                      ELSE pow((v - m) / sd, 2) END)), 4) AS znorm
        |FROM e JOIN s USING (pos) GROUP BY 1""".stripMargin
  )

  /** Generated twin of Clustering.powerIteration: same quantization,
    * same per-round w = Σ x·(xᵀv) integer recurrence, same
    * w // max(1, max|w| // 1e6) rescale — every CTE a later round
    * touches more than once is MATERIALIZED. `w` stays HUGEINT (no
    * BIGINT cast) to mirror the engine's DECIMAL(38,0) exact sum:
    * both sides are 128-bit past the point where Σ x·(xᵀv) outgrows
    * BIGINT, and only the rescaled direction narrows to BIGINT.
    */
  private def powerIterationSql(rounds: Int): String = {
    val body = (1 to rounds).map { i =>
      s""", s$i AS MATERIALIZED (
         |  SELECT c.vec_id, sum(c.xj * v.val) AS s
         |  FROM c JOIN v${i - 1} v USING (j) GROUP BY 1
         |), w$i AS MATERIALIZED (
         |  SELECT c.j, sum(c.xj * s.s) AS w
         |  FROM c JOIN s$i s USING (vec_id) GROUP BY 1
         |), d$i AS (
         |  SELECT greatest(1, max(abs(w)) // 1000000) AS d FROM w$i
         |), v$i AS MATERIALIZED (
         |  SELECT j, CAST(w // (SELECT d FROM d$i) AS BIGINT) AS val FROM w$i
         |)""".stripMargin
    }.mkString
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      e -> CAST(floor(e * 10000) AS BIGINT)) AS xq
       |  FROM embeddings
       |), c AS MATERIALIZED (
       |  SELECT vec_id, unnest(xq) AS xj, unnest(range(0, len(xq))) AS j
       |  FROM x
       |), v0 AS MATERIALIZED (
       |  SELECT unnest(range(0, (SELECT len(xq) FROM x LIMIT 1))) AS j,
       |    CAST(1 AS BIGINT) AS val
       |)$body
       |SELECT j AS dim_idx, val AS v FROM v$rounds""".stripMargin
  }
}
