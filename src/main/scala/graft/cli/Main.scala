package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GraftSession
import graft.io.Sinks
import graft.jobs.{EventTotalsJob, FriendRecsJob, UsersDemographicJob}

/** CLI job runner — replaces the reference's Airflow→FastAPI→
  * spark-submit plumbing (reference api/api.py:47-61,
  * dags/datamart-collector-dag.py) with a plain job registry: the
  * cluster-lifecycle orchestration is deployment concern, not engine
  * surface. Exit code 0 on success (the reference's exit-code-2
  * protocol — jobs/…:73-75 — is deliberately not reproduced;
  * SURVEY §7.4.5).
  *
  * Usage: graft.cli.Main <job> <inputDir> <outputPath> [--single-file]
  *
  * Only the three marts are jobs here: they are what the reference's
  * DAG submits each day (datamart-collector-dag.py), each reads a
  * tier directory and yields one frame for the datamart sink. The 249
  * queries are analytics over the same tiers, reached through Verify
  * and Bench, with no sink contract of their own.
  *
  * `StgMoverJob` (the reference's mover.py) is not a job either: its
  * input is the raw layer, where every event field sits in a nested
  * `event` struct, and no shipped tier stores that layer, so a job
  * given an `<inputDir>` would have nothing to read. It writes its own
  * partitioned output and is exercised from a nested frame
  * (`StgMoverJob.nest`) in `StgMoverSpec`.
  */
object Main {

  val jobs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "users-demographic" -> UsersDemographicJob.run,
    "events-wk-mnth" -> EventTotalsJob.run,
    "friend-recs" -> FriendRecsJob.run)

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        s"usage: graft.cli.Main <${jobs.keys.mkString("|")}> <inputDir> <outputPath> [--single-file]")
      sys.exit(1)
    }
    val Array(jobName, inDir, outPath) = args.take(3)
    val singleFile = args.contains("--single-file")
    val job = jobs.getOrElse(jobName, {
      System.err.println(s"unknown job '$jobName'; known: ${jobs.keys.mkString(", ")}")
      sys.exit(1)
      throw new IllegalStateException
    })
    val spark = GraftSession.local(s"graft-$jobName")
    try {
      // C1/C2 (reference collector.py:623-625, 841-848): the result is
      // persisted across its two materializations — the datamart write
      // and the row-count report (the reference's show(100) debug
      // surface, O3) — then explicitly unpersisted.
      // MEMORY_AND_DISK rather than the reference's MEMORY_ONLY:
      // a mart larger than storage memory should spill, not silently
      // recompute the whole plan for the count
      val result = job(spark, inDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val overwrote = Sinks.writeDatamart(result, outPath, singleFile)
        if (overwrote)
          System.err.println(s"[graft] $outPath existed — overwrote (idempotent rerun)")
        println(s"[graft] $jobName -> $outPath done (${result.count()} rows)")
        // surface any in-flight quality metrics the job observed (e.g.
        // friend-recs' coordinate quarantine): the whole point of the
        // metric is that a feed-wide corruption is VISIBLE at the
        // operator's console, not a silent candidate shrink behind a
        // normal-looking row count
        result.queryExecution.observedMetrics.foreach { case (name, row) =>
          println(s"[graft] observed $name: " +
            row.schema.fieldNames.map(f => s"$f=${row.getAs[Any](f)}").mkString(", "))
        }
      } finally result.unpersist()
    } finally spark.stop()
  }
}
