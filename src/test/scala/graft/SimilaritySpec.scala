package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private def queries = Tables.embeddings(spark, sfDir).where(col("vec_id") % 100 === 0)

  test("aggregator top-k equals window top-k") {
    val corpus = Tables.embeddings(spark, sfDir)
    val a = Similarity.bruteForceTopK(corpus, queries, 5)
    val b = Similarity.aggregatorTopK(spark, corpus, queries, 5)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("exactRerank over a full-corpus pool reproduces brute force; matryoshka at full dim ditto") {
    val corpus = Tables.embeddings(spark, sfDir)
    val brute = Similarity.bruteForceTopK(corpus, queries, 5)
    // pool = every (query, candidate) pair (minus self) — rerank must
    // reduce to the exact scorer
    val pool = queries.select(col("vec_id").as("query_id"))
      .crossJoin(corpus.select(col("vec_id").as("neighbor_id")))
      .where(col("query_id") =!= col("neighbor_id"))
    val rr = Similarity.exactRerank(pool, corpus, queries, 5)
    assert(rr.exceptAll(brute).isEmpty && brute.exceptAll(rr).isEmpty)
    // prefix = the full dimension and a corpus-covering pool: the
    // coarse stage IS brute force, so the composition is too
    val n = corpus.count().toInt
    val mk = Similarity.matryoshkaTopK(corpus, queries, 5,
      prefixDim = 64, coarseMult = n)
    assert(mk.exceptAll(brute).isEmpty && brute.exceptAll(mk).isEmpty)
  }

  test("cosine is 1 for identical vectors") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("IVF top-k has useful recall against brute force") {
    val corpus = Tables.embeddings(spark, sfDir)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.ivfTopK(corpus, queries, 5, nCells = 16, nProbe = 4)
      .select("query_id", "neighbor_id")
    val nExact = exact.count()
    val hit = exact.intersect(ivf).count()
    assert(nExact > 0)
    val recall = hit.toDouble / nExact
    assert(recall >= 0.2, f"IVF recall $recall%.2f too low")
    // and IVF never returns more than k per query
    assert(ivf.groupBy("query_id").count().where(col("count") > 5).isEmpty)
  }

  test("LSH top-k is a subset of per-bucket exact scoring with positive recall") {
    val corpus = Tables.embeddings(spark, sfDir)
    val lsh = Similarity.lshTopK(corpus, queries, 5)
    assert(lsh.count() > 0)
    // every returned neighbor must share the query's signature bucket
    val sigs = corpus.withColumn("sig",
      Similarity.lshSignature(col("embedding"), 64, 8))
      .select(col("vec_id"), col("sig"))
    val joined = lsh
      .join(sigs.withColumnRenamed("vec_id", "query_id").withColumnRenamed("sig", "qsig"), "query_id")
      .join(sigs.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("sig", "nsig"), "neighbor_id")
    assert(joined.where(col("qsig") =!= col("nsig")).isEmpty)
  }

  test("multi-probe LSH dominates single-probe: superset candidates, recall never lower") {
    val corpus = Tables.embeddings(spark, sfDir)
    val k = 5
    val single = Similarity.lshTopK(corpus, queries, k)
    val multi = Similarity.lshMultiProbeTopK(corpus, queries, k)
    val exact = Similarity.bruteForceTopK(corpus, queries, k)
    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val hits = approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
        .count()
      hits.toDouble / exact.count()
    }
    val rs = recall(single)
    val rm = recall(multi)
    assert(rm >= rs, s"multi-probe recall $rm below single-probe $rs")
    // the single-probe bucket is among the multi-probe probes (flip 0),
    // so every single-probe candidate pair must reappear
    val sPairs = single.select("query_id", "neighbor_id")
    val mAll = Similarity.lshMultiProbeTopK(corpus, queries, 1000)
      .select("query_id", "neighbor_id")
    assert(sPairs.exceptAll(mAll).isEmpty)
  }

  test("PQ/ADC top-k has useful recall and matches the exact scorer's shape") {
    val corpus = Tables.embeddings(spark, sfDir)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
      .select("query_id", "neighbor_id")
    val pq = Similarity.pqTopK(corpus, queries, 5)
    // shape: at most k per query, ranks 1..k dense
    assert(pq.groupBy("query_id").count().where(col("count") > 5).isEmpty)
    val recall = exact.intersect(pq.select("query_id", "neighbor_id")).count().toDouble /
      exact.count()
    assert(recall >= 0.2, f"PQ recall $recall%.2f too low")
  }

  test("pqEncode emits m codes in [0, nCodes) and a positive reconstructed norm") {
    val corpus = Tables.embeddings(spark, sfDir)
    val enc = Similarity.pqEncode(corpus, dim = 64, m = 16, nCodes = 16)
    assert(enc.count() === corpus.count())
    val bad = enc.where(size(col("codes")) =!= 16 ||
      exists(col("codes"), c => c < 0 || c >= 16)).count()
    assert(bad === 0)
    // truncated embeddings null out (DotProduct contract) instead of
    // crashing the generated code
    val short = Similarity.pqEncode(
      corpus.withColumn("embedding", slice(col("embedding"), 1, 8)),
      dim = 64, m = 16, nCodes = 16)
    assert(short.where(col("codes").isNotNull).count() === 0)
    assert(enc.where(col("recon_nrm") <= 0).isEmpty)
    // encoding is a zero-shuffle projection
    assert(!enc.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("cosinePairsAbove is complete for random vectors across thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (t <- Seq(0.05, 0.3, 0.6, 0.85)) {
      val vecs = (0 until 120).map(i =>
        (i.toLong, Array.fill(8)((rnd.nextFloat() - 0.5f) * 2f)))
      val df = vecs.toDF("vec_id", "embedding")
      val banded = Similarity.cosinePairsAbove(df, "vec_id", "embedding", t)
      val l = df.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"),
        Similarity.norm(col("embedding")).as("n_a"))
      val r = df.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"),
        Similarity.norm(col("embedding")).as("n_b"))
      val brute = l.crossJoin(r).where(col("vec_a") < col("vec_b"))
        .withColumn("cos", round(
          Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 4))
        .where(col("cos") >= t)
        .select("vec_a", "vec_b", "cos")
      assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty,
        s"banding diverged from all-pairs at threshold $t")
    }
  }

  test("angular-banded cosine pairs equal the all-pairs form (completeness)") {
    val sample = Tables.embeddings(spark, sfDir).where(col("vec_id") % 3 === 0)
    // 0.22 is BELOW any registered threshold: more borderline pairs than
    // any query sees, so a banding gap would surface here first
    val banded = Similarity.cosinePairsAbove(sample, "vec_id", "embedding", 0.22)
    val l = sample.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"),
      Similarity.norm(col("embedding")).as("n_a"))
    val r = sample.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"),
      Similarity.norm(col("embedding")).as("n_b"))
    val allPairs = l.crossJoin(r).where(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(
        Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 4))
      .where(col("cos") >= 0.22)
      .select("vec_a", "vec_b", "cos")
    assert(banded.count() > 0)
    assert(banded.exceptAll(allPairs).isEmpty && allPairs.exceptAll(banded).isEmpty)
  }

  test("recallHarness tolerates a single-row approx result (ANSI array index)") {
    import spark.implicits._
    val one = Seq((1L, 1L, 2L, 0.9)).toDF("query_id", "rank", "neighbor_id", "score")
    val brute = Seq((1L, 1L, 2L, 0.9), (1L, 2L, 3L, 0.8))
      .toDF("query_id", "rank", "neighbor_id", "score")
    // sequence(1, 0) would be [1, 0] and rs[1] throws under ANSI mode
    val r = Similarity.recallHarness(one, brute, minAvgRecall = 0.4).collect()(0)
    assert(r.getAs[Boolean]("recall_ok") && r.getAs[Boolean]("ranks_ok"))
  }

  test("pq kernels null out embeddings containing null elements") {
    import spark.implicits._
    val corpus = Tables.embeddings(spark, sfDir)
    val poisoned = corpus.withColumn("embedding",
      when(col("vec_id") % 7 === 0,
        concat(slice(col("embedding"), 1, 63), array(lit(null).cast("float"))))
        .otherwise(col("embedding")))
    val enc = Similarity.pqEncode(poisoned, dim = 64, m = 16, nCodes = 16)
      .join(poisoned.select(col("vec_id"), col("embedding").as("e")), "vec_id")
    // poisoned rows null out (documented corrupt-row contract), clean rows encode
    assert(enc.where(col("vec_id") % 7 === 0 && col("codes").isNotNull).isEmpty)
    assert(enc.where(col("vec_id") % 7 =!= 0 && col("codes").isNull).isEmpty)
  }

  test("PQ/ADC native kernels: randomized differential — every code, " +
      "table entry, score, and recon norm re-derived by naive driver math") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.expressions.PqKernels
    val rnd = new scala.util.Random(1613)
    (0 until 4).foreach { trial =>
      val m = Seq(2, 4, 8)(rnd.nextInt(3))
      val subDim = 1 + rnd.nextInt(3)
      val nCodes = 2 + rnd.nextInt(6)
      val books: Array[Array[Array[Double]]] =
        Array.fill(m, nCodes, subDim)(rnd.nextDouble() * 2 - 1)
      (0 until 16).foreach { _ =>
        val emb = Array.fill(m * subDim)(rnd.nextFloat() * 2 - 1)
        val a = new GenericArrayData(emb)
        // encode: per-subspace argmin-L2, strictly-less keeps the
        // lowest code — the naive loop mirrors that tie rule
        val codes = PqKernels.encode(a, books)
        val naiveCodes = (0 until m).map { s =>
          (0 until nCodes).minBy { c =>
            val d = (0 until subDim).map { j =>
              val t = emb(s * subDim + j) - books(s)(c)(j); t * t
            }.sum
            (d, c)
          }
        }
        assert((0 until m).forall(s => codes.getInt(s) == naiveCodes(s)),
          s"trial $trial encode")
        // ADC tables: t(s*nCodes+c) = dot(q_s, books(s)(c)) in the
        // kernel's own float→double, left-to-right order
        val tables = PqKernels.adcTables(a, books)
        (0 until m).foreach { s =>
          (0 until nCodes).foreach { c =>
            var acc = 0.0
            (0 until subDim).foreach(j =>
              acc += emb(s * subDim + j).toDouble * books(s)(c)(j))
            assert(tables.getDouble(s * nCodes + c) === acc,
              s"trial $trial table ($s,$c)")
          }
        }
        // score = Σ_s tables(s, code_s), exactly
        val score = PqKernels.adcScore(tables, codes, nCodes)
        val naiveScore = (0 until m)
          .map(s => tables.getDouble(s * nCodes + codes.getInt(s))).sum
        assert(score === naiveScore, s"trial $trial score")
        // recon norm = sqrt(Σ_s |books(s)(code_s)|²)
        val normSq = books.map(_.map(w => w.map(x => x * x).sum))
        val rn = PqKernels.reconNorm(codes, normSq)
        val naiveRn = math.sqrt(
          (0 until m).map(s => normSq(s)(codes.getInt(s))).sum)
        assert(rn === naiveRn, s"trial $trial recon norm")
      }
    }
  }

  test("pqEncode distributed path: randomized differential — every row's " +
      "codes re-derived by naive argmin over the trained books") {
    import spark.implicits._
    val rnd = new scala.util.Random(977)
    (0 until 3).foreach { trial =>
      val m = Seq(2, 4)(rnd.nextInt(2))
      val subDim = 1 + rnd.nextInt(2)
      val dim = m * subDim
      val nCodes = 2 + rnd.nextInt(4)
      val n = 60 + rnd.nextInt(60)
      val rows = (0L until n.toLong).map(id =>
        (id, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      val corpus = rows.toDF("vec_id", "embedding")
      val books = Similarity.pqCodebooks(corpus, m, subDim, nCodes)
      val enc = Similarity.pqEncode(corpus, dim, m, nCodes).collect()
        .map(r => r.getLong(0) -> (r.getSeq[Int](1), r.getDouble(2))).toMap
      val vecs = rows.toMap
      assert(enc.size === n, s"trial $trial row count")
      enc.foreach { case (id, (codes, reconNrm)) =>
        val e = vecs(id)
        val expect = (0 until m).map { s =>
          (0 until books(s).length).minBy { c =>
            val d = (0 until subDim).map { j =>
              val t = e(s * subDim + j) - books(s)(c)(j); t * t
            }.sum
            (d, c)
          }
        }
        assert(codes === expect, s"trial $trial vec $id codes")
        val expectNrm = math.sqrt(
          (0 until m).map(s => books(s)(codes(s)).map(x => x * x).sum).sum)
        assert(reconNrm === expectNrm, s"trial $trial vec $id recon norm")
      }
    }
  }

  test("IVF cells written bucketed-by-cell prune partitions for probes") {
    // the at-rest layout SCALE.md describes: corpus partitioned by
    // coarse cell, so a probe reads only its nProbe directories
    val corpus = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rest").toString
    val cells = Similarity.assignCells(corpus, nCells = 8)
    cells.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === corpus.count())
    val probed = back.where(col("cell").isin(1, 3))
    val plan = probed.queryExecution.executedPlan.toString
    // partition filters (not data filters) must carry the cell predicate
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell#"), plan.take(900))
    val cellsRead = probed.select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cellsRead.subsetOf(Set(1, 3)))
  }

  test("exact-cosine top-k variants share one result contract on duplicate vectors") {
    import spark.implicits._
    // 10 directions stored 3 times each (ids d, d+10, d+20): every query
    // ties exactly with its own copies and with the copies of each
    // direction it ranks
    val dirs = (0 until 10).map(d => Array.tabulate(64)(j => math.sin(d * 64 + j * 1.7).toFloat))
    val corpus = (0L until 30L).map(id => (id, dirs((id % 10).toInt))).toDF("vec_id", "embedding")
    val qs = corpus.where(col("vec_id") % 4 === 0)
    val qIds = (0L until 30L by 4).toSet
    val k = 5
    val pool = qs.select(col("vec_id").as("query_id"))
      .crossJoin(corpus.select(col("vec_id").as("neighbor_id")))
      .where(col("query_id") =!= col("neighbor_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long, Long, Double)].collect().toSeq
    val brute = rows(Similarity.bruteForceTopK(corpus, qs, k))
    // every candidate probed or pooled: IVF and rerank ARE brute force
    val full = Seq(
      "brute" -> brute,
      "ivf" -> rows(Similarity.ivfTopK(corpus, qs, k, nCells = 4, nProbe = 4)),
      "rerank" -> rows(Similarity.exactRerank(pool, corpus, qs, k)))
    full.foreach { case (name, rs) => assert(rs.toSet === brute.toSet, name) }
    val lossy = Seq(
      "lsh" -> rows(Similarity.lshTopK(corpus, qs, k)),
      "multiprobe" -> rows(Similarity.lshMultiProbeTopK(corpus, qs, k)))
    (full ++ lossy).foreach { case (name, rs) =>
      assert(rs.map(_._1).toSet === qIds, name)
      rs.groupBy(_._1).foreach { case (q, qrs) =>
        val ranked = qrs.sortBy(_._2)
        val ctx = s"$name, query $q: $ranked"
        // ranks 1..n without gaps; n = k unless the buckets run short,
        // and a query's two copies always share its bucket
        assert(ranked.map(_._2) === (1L to ranked.size.toLong), ctx)
        assert(ranked.size === k || (lossy.toMap.contains(name) && ranked.size >= 2), ctx)
        assert(!ranked.exists(_._3 == q), ctx)
        assert(ranked.map(_._4) === ranked.map(_._4).sorted(Ordering[Double].reverse), ctx)
        // copies of one direction score equal and rank in id order
        ranked.groupBy(_._3 % 10).values.foreach { copies =>
          assert(copies.map(_._4).distinct.size === 1, ctx)
          assert(copies.map(_._3) === copies.map(_._3).sorted, ctx)
        }
        assert(ranked.take(2).map(_._4) === Seq(1.0, 1.0), ctx)
      }
    }
  }
}
