package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{ArtifactMemo, Tables}

/** Freshness and concurrency of the shared-artifact memo: a table
  * rewritten in place within one JVM must never be served from
  * artifacts built on its old files, and concurrent consumers of one
  * cold artifact (Verify runs queries from a thread pool) must share a
  * single build.
  */
class ArtifactMemoSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.columns.toSeq == b.columns.toSeq && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("documents and lineitem rewritten in place rebuild every artifact read from them") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rewrite").toString
    val live = s"$root/live"   // rewritten in place between the two runs
    val fresh = s"$root/fresh" // the new files under a never-memoized dir
    // variant 1: even doc ids; variant 2: odd doc ids with reversed
    // text, so the LM tables, score table and BPE merges all move
    def writeDocs(dir: String, variant: Int): Unit = {
      val docs = Tables.documents(spark, sfDir)
      (if (variant == 1) docs.where(col("doc_id") % 2 === 0)
       else docs.where(col("doc_id") % 2 === 1).withColumn("text", reverse(col("text"))))
        .coalesce(1).write.mode("overwrite").parquet(Tables.path(dir, "documents"))
    }
    // `triangles` disjoint part triples, each bought together in two
    // orders, plus a fourth part bought twice with the triple's first:
    // support 2 puts each triple's three edges and one pendant edge in
    // the co-purchase graph — one triangle and two predictable links
    // (pendant to the other two corners) apiece
    def writeLineitem(dir: String, triangles: Int): Unit =
      (for (t <- 0 until triangles;
            (o, parts) <- Seq(0 -> Seq(1, 2, 3), 1 -> Seq(1, 2, 3), 2 -> Seq(1, 4), 3 -> Seq(1, 4));
            p <- parts)
        yield ((4 * t + o).toLong, (4 * t + p).toLong))
        .toDF("l_orderkey", "l_partkey")
        .coalesce(1).write.mode("overwrite").parquet(Tables.path(dir, "lineitem"))
    // the co-purchase memo holds the whole prepared graph: every
    // consumer of its edges, degrees or orientation must rebuild
    val names = Seq("text_bpe_tokens", "text_ppl_buckets", "graph_triangles",
      "graph_link_prediction", "graph_modularity")
    def run(dir: String, name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

    writeDocs(live, 1)
    writeLineitem(live, 1)
    val before = names.map(n => n -> run(live, n).collect().toSet).toMap
    val fitBefore = graft.queries.TextQueries.bpeFit(spark, live)
    Thread.sleep(1100) // past the 1 s stamp TTL and FS mtime granularity
    writeDocs(live, 2)
    writeLineitem(live, 2)
    writeDocs(fresh, 2)
    writeLineitem(fresh, 2)

    for (n <- names) {
      val got = run(live, n)
      assert(sameRows(got, run(fresh, n)), s"$n served an artifact built on the old files")
      assert(got.collect().toSet !== before(n), s"$n: the rewrite must change the output")
    }
    // text_bpe_tokens reports bounds only, which any merge table meets:
    // compare the memoized merges themselves
    val fit = graft.queries.TextQueries.bpeFit(spark, live)
    assert(fit === graft.functions.Bpe.fitFromCorpus(
      Tables.documents(spark, fresh), col("text")))
    assert(fit !== fitBefore, "the rewrite must change the fitted merges")
  }

  test("two threads getting one cold key share a single build") {
    val memo = new ArtifactMemo[java.lang.Long]
    val input = java.nio.file.Files.createTempFile("graft_memo_race", ".parquet").toString
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map(_ => pool.submit(() => {
        start.await()
        memo.get(spark, Seq(input)) {
          builds.incrementAndGet()
          Thread.sleep(300) // long enough that the second get arrives mid-build
          java.lang.Long.valueOf(42L)
        }
      }))
      start.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS).longValue) === Seq(42L, 42L))
      assert(builds.get === 1, "the second caller must wait for the first build, not rebuild")
    } finally pool.shutdownNow()
  }
}
