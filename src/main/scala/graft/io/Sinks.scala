package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Datamart sinks (SURVEY §2.1 S5-S7).
  *
  * Mirrors the reference's write semantics (reference
  * src/spark/collector.py:543-557, src/spark/mover.py:107-112):
  * partitioned gzip parquet; try errorifexists first and fall back to
  * overwrite with a warning.
  *
  * Scale notes: the reference repartition(1)s every datamart — fine
  * for KB-scale marts, catastrophic at 100 TB. Here single-file output
  * is an explicit opt-in (`singleFile`), default off; normal writes
  * leave parallelism to AQE coalescing.
  */
object Sinks {

  /** S5: partitioned parquet write. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       compression: String = "gzip"): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .option("compression", compression)
      .parquet(path)

  /** S6+S7: datamart write with the reference's errorifexists→overwrite
    * contract (reference src/spark/collector.py:543-557): returns true
    * iff data pre-existed and was overwritten (the daily idempotent
    * re-run path), false on a fresh write.
    *
    * The write is STAGED: the full mart lands in the hidden sibling
    * `.<mart>__staging` (whatever a failed or crashed write left there
    * is deleted first), then [[swap]] publishes it — the live mart is
    * renamed aside to its [[backupOf]] name, the staging dir renamed
    * in, the backup dropped — through the Hadoop FileSystem API, so URI-style paths (hdfs://,
    * s3a://) resolve on the lake, not the driver's local disk. A
    * direct errorifexists write gives a torn mart under concurrent
    * writers — Spark's existence check runs at job start, so two
    * racing daily runs can both pass it and interleave part-files
    * (duplicated rows). With the staged swap a reader sees a COMPLETE
    * mart or none, and yesterday's mart is never deleted before
    * today's is in place: a failed publish rename restores it, and a
    * crash between the renames is healed by the next write.
    *
    * Concurrency contract (the [[graft.operators.Lakehouse]] one):
    * SINGLE WRITER per mart path — in-JVM writers serialize their
    * staged write and swap on a per-path lock, but two renames cannot be made jointly atomic on
    * a plain filesystem, so concurrent SEPARATE drivers must be
    * serialized externally (scheduler/lock service), and there is a
    * brief read-unavailability window during the swap in which a
    * reader gets path-not-found (never partial data) and should
    * retry. Object stores additionally need a committer/catalog for
    * rename atomicity — same caveat as every rename-based publish.
    */
  def writeDatamart(df: DataFrame, path: String, singleFile: Boolean = false): Boolean = {
    val out = if (singleFile) df.coalesce(1) else df
    val fs = hadoopFs(df.sparkSession, path)
    val target = fs.makeQualified(new Path(path))
    val staging = new Path(target.getParent, s".${target.getName}__staging")
    val lock = pathLocks.computeIfAbsent(target.toString, _ => new Object)
    lock.synchronized {
      fs.delete(staging, true)
      out.write.parquet(staging.toString)
      swap(fs, staging, target)
    }
  }

  /** The one backup name of every directory publish: `.<name>__old`,
    * a dot-prefixed sibling, so Spark's listing of the parent (a
    * partitioned table's leaves) never sees it.
    */
  private[graft] def backupOf(target: Path): Path =
    new Path(target.getParent, s".${target.getName}__old")

  /** Undo what a crash between [[swap]]'s two renames left: a backup
    * whose target is missing is renamed back; a backup beside a live
    * target (the swap completed) is dropped.
    */
  private[graft] def heal(fs: FileSystem, target: Path): Unit = {
    val backup = backupOf(target)
    if (fs.exists(backup)) {
      if (fs.exists(target)) fs.delete(backup, true)
      else if (!fs.rename(backup, target))
        throw new java.io.IOException(s"cannot restore $backup to $target")
    }
  }

  /** Rename-aside publish of `staging` at `target`, after [[heal]]:
    * the live target moves to its [[backupOf]] name, staging renames
    * in, the backup is dropped. When the publish rename fails the
    * original is renamed back and the call throws, leaving staging
    * for inspection. Returns whether the target existed. Callers hold
    * their own writer lock.
    */
  private[graft] def swap(fs: FileSystem, staging: Path, target: Path): Boolean = {
    heal(fs, target)
    val backup = backupOf(target)
    val existed = fs.exists(target)
    if (existed && !fs.rename(target, backup))
      throw new java.io.IOException(s"cannot move $target aside")
    if (!fs.rename(staging, target)) {
      val restored = !existed || fs.rename(backup, target)
      throw new java.io.IOException(s"cannot publish $staging to $target" +
        (if (restored) "" else s"; the original is in $backup"))
    }
    if (existed) fs.delete(backup, true)
    existed
  }

  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
                       path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fingerprint-guarded write-once for at-rest serving layouts
    * (IVF-bucketed corpus, zone-mapped tables, training shards): run
    * `write` only when `layoutId` — a caller-computed digest of the
    * layout's inputs — differs from the id recorded in the marker
    * file, then record it. The marker lives INSIDE the layout dir
    * under a `_`-prefixed name, so Spark's file listing never sees it;
    * one shared implementation keeps the three call sites' freshness
    * protocol from drifting apart. Returns true when a rewrite ran.
    *
    * Check-then-write runs under the same per-path lock
    * [[writeDatamart]] uses: two in-JVM callers racing a stale marker
    * would otherwise BOTH run `write` into the same directory and
    * tear the layout. Marker IO goes through the Hadoop FileSystem so
    * lake-resident layouts resolve correctly; cross-driver callers
    * serialize externally (single-writer, as everywhere in graft.io).
    */
  def writeOnce(restDir: String, layoutId: String)(write: => Unit): Boolean = {
    val spark = org.apache.spark.sql.SparkSession.active
    val fs = hadoopFs(spark, restDir)
    val dir = fs.makeQualified(new Path(restDir))
    val marker = new Path(dir, "_graft_layout")
    val lock = pathLocks.computeIfAbsent(dir.toString, _ => new Object)
    lock.synchronized {
      val fresh = fs.exists(marker) && {
        val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
        val in = fs.open(marker)
        try in.readFully(buf) finally in.close()
        new String(buf, "UTF-8") == layoutId
      }
      if (!fresh) {
        write
        val outS = fs.create(marker, true)
        try outS.write(layoutId.getBytes("UTF-8")) finally outS.close()
      }
      !fresh
    }
  }
}
