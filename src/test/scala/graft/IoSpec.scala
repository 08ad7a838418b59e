package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.io.{PartitionedSource, Sinks}

class IoSpec extends SparkSpec {

  test("writeDatamart falls back from errorifexists to overwrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink").toString + "/dm"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(!Sinks.writeDatamart(df, dir), "first write must not fall back")
    assert(Sinks.writeDatamart(df, dir), "second write must take the overwrite fallback")
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("partitioned sink + windowed source round-trip with partition pruning") {
    val root = Files.createTempDirectory("graft-lake").toString
    val events = Tables.events(spark, sfDir)
      .withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
    Sinks.writePartitioned(events, root, Seq("event_type", "date"))

    val d = LocalDate.parse("2024-01-05")
    val win = PartitionedSource.readWindow(spark, root, "click", d, 3)
    val expected = events
      .where(col("event_type") === "click" &&
        col("date").isin("2024-01-05", "2024-01-04", "2024-01-03"))
      .count()
    assert(win.count() === expected)
    assert(expected > 0)

    // existence probe: all three daily partitions of click exist
    val paths = PartitionedSource.existingPaths(spark, root, "click", d, 3)
    assert(paths.size === 3)
    // and a bogus event type has none
    assert(PartitionedSource.existingPaths(spark, root, "nope", d, 3).isEmpty)

    // partition filters must prune: the scan should list fewer files
    // than the full lake (asserted via the physical plan's partition count)
    val plan = win.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), plan.take(500))
  }

  test("concurrent datamart writers never leave a torn or duplicated mart") {
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // property-style: two writers race the same path with different
    // payloads, several fresh rounds — the published mart must always
    // be ONE writer's payload, complete, never an interleaving.
    for (round <- 1 to 3) {
      val dir = Files.createTempDirectory(s"graft-race-$round").toString + "/dm"
      val a = (1 to 50).map(i => (i.toLong, "a")).toDF("id", "v").repartition(4)
      val b = (1 to 50).map(i => (i.toLong, "b")).toDF("id", "v").repartition(4)
      val ra = Future(Sinks.writeDatamart(a, dir))
      val rb = Future(Sinks.writeDatamart(b, dir))
      Await.result(ra.zip(rb), 120.seconds)
      val rows = spark.read.parquet(dir).collect()
      assert(rows.length === 50, s"round $round: duplicated/torn mart")
      val payloads = rows.map(_.getString(1)).distinct.toSeq
      assert(payloads.size === 1, s"round $round: mixed payloads $payloads")
      // no staging leftovers beside the mart
      val leftovers = new java.io.File(dir).getParentFile.listFiles()
        .filter(_.getName.contains("_staging"))
      assert(leftovers.isEmpty, leftovers.mkString(","))
    }
  }

  test("single-file datamart opt-in writes one part file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-single").toString + "/dm"
    val df = (1 to 100).toDF("n").repartition(8)
    Sinks.writeDatamart(df, dir, singleFile = true)
    val parts = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    assert(parts === 1)
  }
}
