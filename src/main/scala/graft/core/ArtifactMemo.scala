package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** The one cross-query artifact memo: shared artifacts (checkpointed
  * edge/count tables, trained codebooks, fitted merge tables, training
  * samples) built once and read by every consumer query.
  *
  * Key = (owning session, stamp of every input path the artifact
  * reads, params). Each (inputs, params) slot holds ONE entry; a hit
  * needs the same session (reference identity) and unchanged stamps,
  * anything else rebuilds and REPLACES the entry. So a table rewritten
  * in place is never served from its old files, the map never grows
  * past one entry per slot, and a replaced session's checkpoint blocks
  * become unreachable (the ContextCleaner reclaims them) instead of
  * being resurrected.
  *
  * Builds run inside `ConcurrentHashMap.compute`: concurrent callers of
  * one cold slot wait for a single build. A build may read OTHER memos
  * but never its own (that would re-enter the same map). Build time
  * lands in [[MemoStats]].
  */
final class ArtifactMemo[T] {
  private val m = new ConcurrentHashMap[String, ArtifactMemo.Entry[T]]()

  def get(spark: SparkSession, inputs: Seq[String], params: String = "")(build: => T): T = {
    // building against a stopped session would fail deep inside the
    // build with an opaque context error — refuse up front instead
    require(!spark.sparkContext.isStopped,
      s"ArtifactMemo(${inputs.mkString(",")}): the calling SparkSession is " +
        "stopped; shared artifacts must be built on a live session")
    val stamps = inputs.map(ArtifactMemo.stamp(spark, _))
    m.compute(inputs.mkString(",") + "|" + params, (_, old) =>
      if (old != null && (old.session eq spark) && old.stamps == stamps) old
      else ArtifactMemo.Entry(spark, stamps, MemoStats.timed(build))).value
  }
}

object ArtifactMemo {
  private final case class Entry[T](session: SparkSession, stamps: Seq[String], value: T)

  /** Stamp resolution is a getFileStatus + recursive listStatus — a
    * remote round-trip per file on object stores — and every memo
    * access pays it. A 1 s TTL collapses the within-query and
    * within-pass repeats to one walk while staying far under any real
    * refresh cadence: a rewrite becomes visible at most 1 s late.
    */
  private val StampTtlNanos = 1000L * 1000 * 1000
  private val stamps = new ConcurrentHashMap[String, (Long, String)]()

  /** `path@<newest mtime>:<total bytes>` over every file under `path`,
    * resolved through the Hadoop FileSystem so hdfs://, s3a:// and
    * file: URIs stamp the same way as plain local paths. An
    * unreadable path falls back to the bare path, so the memo degrades
    * to (session, path) keying there instead of failing.
    */
  def stamp(spark: SparkSession, path: String): String = {
    val now = System.nanoTime()
    val cached = stamps.get(path)
    if (cached != null && now - cached._1 < StampTtlNanos) cached._2
    else {
      val key = try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def walk(s: org.apache.hadoop.fs.FileStatus): (Long, Long) =
          if (s.isDirectory)
            fs.listStatus(s.getPath).map(walk).foldLeft((s.getModificationTime, 0L)) {
              case ((t, n), (t2, n2)) => (math.max(t, t2), n + n2)
            }
          else (s.getModificationTime, s.getLen)
        val (mtime, bytes) = walk(fs.getFileStatus(p))
        s"$path@$mtime:$bytes"
      } catch { case _: Exception => path }
      stamps.put(path, (now, key))
      key
    }
  }
}
