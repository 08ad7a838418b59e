package graft.core

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Every conf here is chosen to make sense both in one local JVM and
  * on a large cluster: AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions sized to cores (not the 200 default), UTC session
  * time zone (the reference pins per-row timezones explicitly — see
  * reference src/spark/collector.py:361-366).
  */
object GraftSession {

  /** Shared engine confs, applied to every session graft builds. */
  private def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // a lake that stores events.ts as TIMESTAMP(NANOS) (Spark has no
      // ns type) reads it as long, normalized in Tables.events; the
      // shipped tiers store micros and never take that branch
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft's native Catalyst expressions (token_fingerprint, ...)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.warehouse.dir", warehouseDir.toString)
      .config("spark.ui.enabled", "false")

  /** saveAsTable targets (bucketed at-rest layouts) land in tmp, not
    * the working directory, under one subdirectory per JVM: two
    * processes that save the same bucketed table would otherwise
    * overwrite each other's files. The directory is removed when the
    * JVM exits. On a cluster the deployment overrides the conf with
    * the real warehouse root.
    */
  private lazy val warehouseDir: java.io.File = {
    val dir = new java.io.File(new java.io.File(sys.props("java.io.tmpdir"), "graft_warehouse"),
      ProcessHandle.current().pid().toString)
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir
  }

  /** The one session factory: every main, the specs and the bench
    * build their session here. Local mode with `cores` task threads
    * unless a master is already set — spark-submit passes its
    * `--master` as a system property, which a fresh [[SparkConf]]
    * reads — so the production CLI runs on whatever cluster launches
    * it. All engine confs are identical either way: the plans the
    * tests pin are the plans a cluster runs.
    */
  def local(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val (master, width) = masterAndWidth(new SparkConf(), cores)
    val b = SparkSession.builder().appName(appName)
    val spark = tuned(master.fold(b)(b.master), width).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** (master to set, shuffle width): `local[cores]` and `cores` when
    * `conf` names no master; otherwise the preset master wins and
    * shuffles start at a cluster width of 512 — AQE coalesces down at
    * runtime, so oversizing is the safe direction.
    */
  private[graft] def masterAndWidth(conf: SparkConf, cores: Int): (Option[String], Int) =
    if (conf.contains("spark.master")) (None, 512) else (Some(s"local[$cores]"), cores)

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      math.max(2, Runtime.getRuntime.availableProcessors()))

  /** Lineage truncation for iterative operators (PageRank rounds,
    * component pointer-jumping, k-core peeling, …).
    *
    * `localCheckpoint` stores blocks on EXECUTOR-LOCAL storage: fast,
    * zero-config, but under executor loss or dynamic allocation the
    * job fails unrecoverably instead of recomputing. On a long cluster
    * run, set a checkpoint dir (`sc.setCheckpointDir(...)`) and every
    * operator here upgrades to a RELIABLE checkpoint automatically —
    * same truncation semantics, blocks in fault-tolerant storage.
    * Results are identical either way; only failure behavior changes.
    */
  def truncate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** `df.truncateLineage()` sugar for [[truncate]]. */
  implicit class LineageOps(private val df: org.apache.spark.sql.DataFrame) extends AnyVal {
    def truncateLineage(): org.apache.spark.sql.DataFrame = truncate(df)
  }
}
