package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling

/** Regression pins for the round-12 query-layer overflow/ANSI audit:
  * the sf0.01 gate proves VALUES, this spec proves the ENVELOPES —
  * the fixed-point ppm products, Knuth hashes, and z-score divisions
  * must survive the corpus-scale magnitudes (1e13-row tallies,
  * ids past 2^31, zero-variance dimensions) that the clean fixtures
  * never reach. Each case ran into a real abort-or-wrap before the
  * audit's fix; none may regress to BIGINT-only arithmetic.
  */
class ScaleEnvelopeSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  test("modBucket is ANSI-safe past 2^31 and the fold is the identity below it") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 17L, 2147483646L, // fold-identity domain
      2147483647L, 10000000000L, Long.MaxValue) // past the raw-multiply envelope
    val out = ids.toDF("id")
      .select(col("id"), Sampling.modBucket(col("id"), 1000).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val expected = ((BigInt(id) % Sampling.KnuthFold) *
        Sampling.KnuthMultiplier % 1000).toLong
      assert(out(id) === expected, s"id $id")
      if (id < Sampling.KnuthFold)
        assert(out(id) === (BigInt(id) * Sampling.KnuthMultiplier % 1000).toLong,
          s"fold must be the identity below 2^31-1 (id $id)")
    }
  }

  test("kmeans argmin kernel fails loudly (never wraps) on coordinate " +
      "magnitudes past the BIGINT distance envelope") {
    // a legit finite float of 1e5 passes the embeddings admissibility
    // filter and quantizes to 1e9; its squared distance to a far
    // centroid overflows BIGINT. The replaced HOF form threw under
    // ANSI and the DuckDB twin errors — the native kernel must too,
    // not land the row in a plausible wrong cluster.
    import spark.implicits._
    val huge = Seq((0L, Seq.fill(8)(1e5.toFloat)), (1L, Seq.fill(8)(-1e5.toFloat)))
    val ex = intercept[org.apache.spark.SparkException] {
      graft.operators.Clustering.kmeansFixedPoint(
        huge.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 2, rounds = 1).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.isInstanceOf[ArithmeticException]),
      s"expected an ArithmeticException in the cause chain, got $ex")
  }

  test("the 128-bit ppm idiom is exact where the BIGINT product wrapped") {
    import spark.implicits._
    // c = a hot key's event count at a 1e13-row corpus: c·1e6 ≈ 9e18·1e0
    // — past BIGINT — while the ppm quotient is tiny. This is the exact
    // expression diag_key_skew / events_attribution / session funnel /
    // graph_modularity now plan.
    val c = 9_000_000_000_000L
    val total = 10_000_000_000_000L
    val row = Seq((c, total)).toDF("c", "total")
      .select(expr("(CAST(c AS DECIMAL(38,0)) * 1000000) div total").as("ppm"))
      .head()
    assert(row.getLong(0) === (BigInt(c) * 1000000 / total).toLong)
  }

  test("PMI score survives stop-word unigram counts (c_x·c_y ~ 2.5e23)") {
    import spark.implicits._
    val (cxy, cx, cy) = (400_000_000_000L, 500_000_000_000L, 500_000_000_000L)
    val row = Seq((cxy, cx, cy)).toDF("c_xy", "c_x", "c_y")
      .select(expr("(CAST(c_xy AS DECIMAL(38,0)) * 1000000)" +
        " div (CAST(c_x AS DECIMAL(38,0)) * c_y)").as("s"))
      .head()
    assert(row.getLong(0) ===
      (BigInt(cxy) * 1000000 / (BigInt(cx) * cy)).toLong)
  }

  test("temperatureMixture raw_ppm/target are exact at 1e13-token domains") {
    import spark.implicits._
    // two domains, 9e12 tokens in one: raw_ppm's old BIGINT numerator
    // (c_tokens·1e6 = 9e18·1e0) wrapped; budget·w_x1e4 is ~3e23
    val df = Seq(("en", 9_000_000_000_000L), ("de", 1_000_000_000_000L))
      .toDF("lang", "n_tok")
    val out = Sampling.temperatureMixture(df, "lang", col("n_tok"),
        budgetTokens = 10_000_000_000_000L)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val wEn = BigInt(math.floor(math.sqrt(9e12) * 1e4).toLong)
    val wDe = BigInt(math.floor(math.sqrt(1e12) * 1e4).toLong)
    assert(out("en").getAs[Long]("raw_ppm") ===
      (BigInt(9_000_000_000_000L) * 1000000 / BigInt(10_000_000_000_000L)).toLong)
    assert(out("en").getAs[Long]("target_tokens") ===
      (BigInt(10_000_000_000_000L) * wEn / (wEn + wDe)).toLong)
  }

  test("vec_standardize tolerates a zero-variance (padded) dimension") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zerovar").toString
    // dim 0 varies; every OTHER dimension is a constant pad — the
    // shape that crashed the unguarded (v-m)/sd under ANSI double
    // division-by-zero. Vectors are full EmbeddingDim-width so they
    // pass the admissibility quarantine.
    def v(x: Float) =
      Array.tabulate(graft.core.Tables.EmbeddingDim)(i => if (i == 0) x else 5.0f)
    Seq((1L, v(1.0f)), (2L, v(2.0f)), (3L, v(3.0f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.VectorQueries.queries("vec_standardize")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // zero-variance dims contribute 0 → znorm is |z| of dim 0 alone
    assert(out(1L) === 1.0)
    assert(out(2L) === 0.0)
    assert(out(3L) === 1.0)
  }

  test("funnel dominant-token fold equals the quadratic definition") {
    import spark.implicits._
    val texts = Seq("a", "", "a a a b", "b a b a b", "x y z",
      "  a", "a  b   a", "the the the", "z y x w v u t s")
    val toks = split(col("text"), " ")
    val quadratic = array_max(transform(array_distinct(toks),
      d => size(filter(toks, e => e === d)))).cast("long")
    val folded = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(1L)
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => when(acc.getField("best") === 0L, lit(null).cast("long"))
        .otherwise(acc.getField("best")))
    val bad = texts.toDF("text")
      .select(col("text"), quadratic.as("q"), folded.as("f"))
      .where(!(col("q") <=> col("f")))
      .count()
    assert(bad === 0L)
  }

  test("planted-copy harnesses refuse an empty corpus loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_docs").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.queries.TextQueries.queries("dedup_simhash_pairs")(spark, dir).collect()
    }
    assert(e.getMessage.contains("non-empty corpus"))
  }

  test("embeddings count memo key tracks in-place corpus refreshes " +
      "(scale-relative k must not go stale within a JVM)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_refresh").toString
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, Seq.fill(64)(0.1f)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = graft.core.Tables.path(dir, "embeddings")
    write(10)
    val k1 = graft.core.ArtifactMemo.stamp(spark, emb)
    // an in-place refresh changes content length and/or mtime — the
    // overwrite rewrites part files, so the directory stamp moves
    Thread.sleep(1100) // FS mtime granularity can be 1 s
    write(25)
    val k2 = graft.core.ArtifactMemo.stamp(spark, emb)
    assert(k1 !== k2, "snapshot key must change when the corpus is refreshed in place")
    // the stamp resolves through the Hadoop FileSystem, so URI-form
    // paths stamp identically to their plain-path twins
    assert(graft.core.ArtifactMemo.stamp(spark, s"file:$emb")
      .endsWith(k2.drop(emb.length)), "file: URI must reach the same stamp")
    // an absent path degrades to the bare-path key, not an error
    assert(graft.core.ArtifactMemo.stamp(spark, "/nonexistent/x/embeddings.parquet") ===
      "/nonexistent/x/embeddings.parquet")
  }
}
