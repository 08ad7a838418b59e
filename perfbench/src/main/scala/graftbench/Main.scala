package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.core.{GraftSession, MemoStats, Tables}
import graft.io.Sinks

/** One benchmark run in one fresh JVM: a closed loop with one client
  * that runs one operation at a time on a `local[nproc]` session.
  *
  * Usage: graftbench.Main <queries|marts> <dataDir> <outDir> <passes>
  *          <trace 0|1> <tables,...> <op,...>
  *
  * The run starts a GraftSession, loads each input table once, runs
  * exactly `passes` passes over the ops (the caller treats the first as
  * the first pass and the next few as warm-up, while the JIT is still
  * compiling graft's and Spark's driver paths), then an untimed check
  * pass whose outputs the caller compares with the DuckDB oracles. Everything it measures is timed from out
  * here, around calls into graft's public functions; with trace 1 it
  * also keeps spans and Spark-runtime counts per operation. It writes
  * `<outDir>/record.json` and nothing to stdout but progress.
  *
  * queries: each op is a SparkEntry.queries name; construct, plan
  *   (`queryExecution.executedPlan`) and a noop-sink write.
  * marts: each op is a graft.cli.Main job, run the way that main runs
  *   it: its own GraftSession.local, the job, persist,
  *   Sinks.writeDatamart to a fresh output root, count, unpersist, stop.
  */
object Main {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

  /** Spans kept in memory and written out at the end (trace 1 only). */
  final class Tracer(val enabled: Boolean, t0: Long) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack = List(-1)

    def apply[T](name: String, op: Int)(body: => T): T =
      if (!enabled) body
      else {
        val id = spans.size
        spans += null
        val parent = stack.head
        stack = id :: stack
        val start = System.nanoTime()
        try body
        finally {
          spans(id) = Span(id, parent, op, name, start - t0, System.nanoTime() - t0)
          stack = stack.tail
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, dataDir, outDir, passesArg, traceArg, tablesArg, opsArg) = args
    val total = passesArg.toInt
    val traced = traceArg == "1"
    val tables = tablesArg.split(",").toSeq
    val ops = opsArg.split(",").toSeq
    val t0 = System.nanoTime()
    val trace = new Tracer(traced, t0)
    val ledger = if (traced) Some(new Ledger) else None
    def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

    // ---- set-up: fresh JVM to a ready session, then the table loads
    val sessionStart = System.nanoTime()
    val spark = trace("core.session_start", -1)(GraftSession.local())
    val sessionStartS = secs(sessionStart)
    val readyMs = System.currentTimeMillis()
    ledger.foreach(_.attach(spark))
    val env = Env.describe(spark)
    val loads = tables.zipWithIndex.map { case (t, i) =>
      val op = -2 - i
      val st = System.nanoTime()
      withGroup(spark, op, "core.table_load", traced)(
        trace("core.table_load", op)(Tables.load(spark, dataDir, t)))
      val s = secs(st)
      val jobs = ledger.map(_.take(spark, op).values.map(_.jobs).sum).getOrElse(0L)
      ListMap("table" -> t, "s" -> s, "jobs" -> jobs)
    }

    val runner = new Runner(mode, dataDir, outDir, trace, ledger)
    if (mode == "marts") spark.stop()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // The JIT keeps speeding the driver paths up for minutes, so a fixed
    // number of passes keeps runs (and commits) comparable.
    for (pass <- 0 until total) passes += runner.pass(pass, spark, ops)
    val checked = runner.check(spark, ops, total - 1)
    if (mode != "marts") spark.stop()

    val record = ListMap(
      "mode" -> mode, "traced" -> traced, "ready_ms" -> readyMs,
      "session_start_s" -> sessionStartS, "env" -> env,
      "table_loads" -> loads, "passes" -> passes.toSeq, "check" -> checked,
      "spans" -> trace.spans.toSeq.map(s => ListMap(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)))
    Files.writeString(Paths.get(outDir, "record.json"), json(record))
  }

  /** The run record's JSON: objects are maps (ListMap keeps field order). */
  def json(v: Any): String = JsonMethods.compact(Extraction.decompose(v)(DefaultFormats))

  /** Tag the jobs and SQL executions of one span with `<op>|<span>`. */
  def withGroup[T](spark: SparkSession, op: Int, span: String, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(s"$op|$span", span, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  /** Memory plus disk held by the session's persisted and checkpointed blocks. */
  def heldMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  final class Runner(mode: String, dir: String, outDir: String, trace: Tracer,
                     ledger: Option[Ledger]) {
    private val traced = trace.enabled
    private lazy val queries = SparkEntry.queries
    private var opSeq = 0

    def pass(p: Int, spark: SparkSession, ops: Seq[String]): Map[String, Any] = {
      val start = System.nanoTime()
      val memo0 = (MemoStats.seconds, MemoStats.count)
      val recs = trace("pass", -1)(ops.map(name => runOp(p, spark, name)))
      val wall = (System.nanoTime() - start) / 1e9
      System.err.println(f"[perfbench] pass $p: $wall%.3f s")
      ListMap("pass" -> p, "wall_s" -> wall,
        "memo_build_s" -> (MemoStats.seconds - memo0._1),
        "memo_builds" -> (MemoStats.count - memo0._2), "ops" -> recs)
    }

    private def runOp(p: Int, shared: SparkSession, name: String): Map[String, Any] = {
      val op = opSeq
      opSeq += 1
      val memo0 = (MemoStats.seconds, MemoStats.count)
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      var error: String = null
      var held = 0.0
      var io = Seq.empty[(String, Any)]
      var session = shared
      def step[T](span: String)(body: => T): T =
        withGroup(session, op, span, traced)(trace(span, op)(body))
      trace("op", op) {
        try {
          if (mode == "marts") {
            session = step("core.session_start")(GraftSession.local(s"graft-$name"))
            ledger.foreach(_.attach(session))
            val path = martPath(p, name)
            val df = step("jobs.construct")(graft.cli.Main.jobs(name)(session, dir))
            val result = step("jobs.persist")(df.persist(StorageLevel.MEMORY_AND_DISK))
            step("io.write")(Sinks.writeDatamart(result, path))
            val rows = step("jobs.count")(result.count())
            held = heldMb(session)
            io = Seq("rows_written" -> rows) ++ filesUnder(path)
            step("core.session_stop") {
              // drain inside the stop span, while the bus still runs
              ledger.foreach(l => io ++= opCounts(l.take(session, op), startMs))
              result.unpersist()
              session.stop()
            }
          } else {
            val df = step("queries.construct")(queries(name)(shared, dir))
            step("queries.plan")(df.queryExecution.executedPlan)
            step("queries.action")(df.write.format("noop").mode("overwrite").save())
            held = heldMb(shared)
          }
        } catch {
          case e: Throwable =>
            error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
            System.err.println(s"[perfbench] $name failed: $error")
            if (mode == "marts" && !session.sparkContext.isStopped) session.stop()
        }
      }
      val wall = (System.nanoTime() - start) / 1e9
      val endMs = System.currentTimeMillis()
      val spark = if (mode == "marts") Seq.empty else
        ledger.map(l => opCounts(l.take(shared, op), startMs, endMs)).getOrElse(Seq.empty)
      ListMap("op" -> op, "name" -> name, "check" -> checkName(name), "wall_s" -> wall,
        "ok" -> (error == null),
        "error" -> error, "held_mb" -> held,
        "memo_build_s" -> (MemoStats.seconds - memo0._1),
        "memo_builds" -> (MemoStats.count - memo0._2)) ++ io ++ spark
    }

    /** Per-span and whole-op Spark counts; driver-only time needs the op's end. */
    private def opCounts(bySpan: Map[String, SparkCounts], startMs: Long,
                         endMs: Long = System.currentTimeMillis()): Seq[(String, Any)] = {
      val total = new SparkCounts
      bySpan.values.foreach(total.add)
      Seq("spark" -> total.fields, "spark_busy_s" -> total.busySeconds(startMs, endMs),
        "spark_by_span" -> bySpan.toSeq.sortBy(_._1).map { case (k, c) =>
          ListMap("span" -> k, "jobs" -> c.jobs, "tasks" -> c.tasks) })
    }

    /** The name tools/check.py knows an op's output by. */
    private def checkName(op: String): String = if (mode == "marts") martOracle(op) else op

    private def martPath(p: Int, job: String): String =
      new File(outDir, s"marts/p$p/${checkName(job)}").getPath

    private def filesUnder(path: String): Seq[(String, Any)] = {
      val files = Option(new File(path).listFiles).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      Seq("files_written" -> files.size, "bytes_written" -> files.map(_.length).sum)
    }

    /** Untimed: write each op's output where tools/check.py reads it. */
    def check(spark: SparkSession, ops: Seq[String], lastPass: Int): Map[String, Any] = {
      val (root, names) =
        if (mode == "marts") (new File(outDir, s"marts/p$lastPass"), ops.map(checkName))
        else {
          val root = new File(outDir, "check")
          val failed = ops.flatMap { name =>
            try {
              queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
                .parquet(new File(root, name).getPath)
              None
            } catch { case e: Throwable => Some(name -> e.getMessage) }
          }
          failed.foreach { case (n, m) => System.err.println(s"[perfbench] check $n failed: $m") }
          (root, ops)
        }
      root.mkdirs()
      val oracles = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null))
      Files.writeString(new File(root, "oracle_sql.json").toPath,
        json(ListMap(oracles.filter(_._2 != null): _*)))
      ListMap("dir" -> root.getPath, "names" -> names,
        "no_oracle" -> oracles.filter(_._2 == null).map(_._1))
    }
  }

  /** Oracle name of each graft.cli.Main job. */
  val martOracle: String => String = Map(
    "users-demographic" -> "dm_users_demographic",
    "events-wk-mnth" -> "dm_events_wk_mnth",
    "friend-recs" -> "dm_friend_recs")
}
