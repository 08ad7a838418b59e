package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Each query is forced through the noop datasource sink so the full
  * plan executes (a count() would let Catalyst drop projections).
  *
  * Timeout survivability (r16 verdict item 2): the machine-readable
  * full-results file and a compact stdout line are flushed after every
  * completed sweep AND every 25 queries within a sweep, so a run
  * killed at its budget (the r16 8-core driver run died with rc 124
  * and zero output) still leaves per-query data for everything it
  * measured. SPARK_GRAFT_BENCH_BUDGET_SEC additionally trades sweeps
  * for completion: no new sweep starts when the previous sweep's wall
  * time would not fit in the remaining budget, and a sweep in progress
  * stops early (its partial minima still count) at 95% of budget.
  *
  * Every line and the results file render one [[Record]]: the
  * full-map line, the results file and the compact last line differ
  * only in which of its fields they show.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  val PinnedFile = "BENCH_PINNED.json"
  val OutFile = "bench_results.json"
  /** Drift tolerance over a pin. Pins are corroborated minima over 4+
    * full runs, so sub-second queries sit 1.3-1.55x over their own
    * floor on a normal pass — 1.6 keeps the guard quiet there while
    * still tripping (and retry-corroborating) anything approaching a
    * real 2x regression.
    */
  val DriftTol = 1.6
  val RetryPasses = 2
  /** Sweep ceiling when more than one sweep is asked for. */
  val MaxSweeps = 4

  /** Adaptive repeats: at least `iters` runs per query, then keep going
    * to this many until the two fastest agree (see [[agree]]).
    */
  def maxIters(iters: Int): Int = math.max(iters + 4, 7)

  /** The one acceptance rule, for a query's repeats and for whole
    * sweeps alike: the best two values agree within 8% — a minimum
    * that no single lucky/unlucky run can define. The box shows
    * multi-second noise bursts; corroborated minima are what make
    * round-over-round deltas reflect code, not scheduler state.
    */
  def agree(ts: Seq[Double]): Boolean = ts.size >= 2 && {
    val s = ts.sorted
    s(1) <= s(0) * 1.08
  }

  /** One pass over (some of) the queries: per-query minima and the
    * queries with no successful run.
    */
  private final case class Sweep(times: Map[String, Double], failed: Set[String])

  /** What a run has measured so far. `drift` is None while the run is
    * partial and when the pins were not compared (see `pins`).
    */
  private final case class Record(queries: Seq[(String, Double)], failed: Seq[String],
      intermittent: Seq[String], sweeps: Int, sweepTotals: Seq[Double],
      artifactSec: Double, artifactBuilds: Long, partial: Boolean = true,
      drift: Option[Seq[(String, Double)]] = None, retryPasses: Int = 0,
      pins: JValue = JNothing)

  private sealed trait Shape
  private case object FullLine extends Shape
  private case object ResultsFile extends Shape
  private case object CompactLine extends Shape

  /** The file's JSON, or JNothing when it is missing or unreadable. */
  private def readJson(path: String): JValue =
    try {
      val p = Paths.get(path)
      if (Files.exists(p)) JsonMethods.parse(Files.readString(p)) else JNothing
    } catch { case _: Exception => JNothing }

  /** The `"queries"` map of a pins or results record. */
  private def queriesOf(record: JValue): Seq[(String, Double)] = record \ "queries" match {
    case JObject(fields) => fields.collect {
      case (k, JDouble(v)) => k -> v
      case (k, JInt(v)) => k -> v.toDouble
    }
    case _ => Nil
  }

  private def dp(x: Double, places: Int): JValue =
    JDecimal(BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local("graft-bench")
    try run(spark, sys.env.updated("SPARK_GRAFT_SF_DIR", sfDir), SparkEntry.queries, PinnedFile, OutFile)
    finally spark.stop()
  }

  /** Measure `queries` (filtered by SPARK_GRAFT_BENCH_ONLY) over the
    * SPARK_GRAFT_SF_DIR that `env` must name, print the record lines
    * and write `outFile`; drift is judged against `pinnedFile`. Leaves
    * `spark` running.
    */
  def run(spark: SparkSession, env: Map[String, String], queries: Map[String, Query],
          pinnedFile: String, outFile: String): Unit = {
    // every knob parsed UP FRONT: a malformed value must fail before
    // the sweep runs, not after minutes of measurement
    val sfDir = env("SPARK_GRAFT_SF_DIR")
    val iterations = env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // SWEEPS=1 stays a single quick local sweep; the default 2
    // escalates to MaxSweeps while the sweep totals disagree
    val minSweeps = math.max(1, env.getOrElse("SPARK_GRAFT_BENCH_SWEEPS", "2").toInt)
    val maxSweeps = if (minSweeps <= 1) minSweeps else math.max(minSweeps, MaxSweeps)
    // Wall-clock budget in seconds; 0 disables. When set, the sweep
    // machinery degrades gracefully: fewer sweeps, and in the limit a
    // truncated first sweep whose partial minima are still flushed.
    val budgetSec = env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "0").toDouble
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    def budgetNearlySpent: Boolean = budgetSec > 0 && elapsedSec > budgetSec * 0.95
    // Optional comma-separated query-name filter for local iteration.
    val only = env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(queries)(names => queries.filter { case (n, _) => names(n) })
    // Pins were mined on one box class; minima from another core count
    // say nothing about drift, so they are compared only on a match.
    val pinRecord = readJson(pinnedFile)
    val cores = spark.sparkContext.defaultParallelism
    val pinCores = pinRecord \ "cores" match { case JInt(c) => Some(c.toInt); case _ => None }
    val comparePins = pinCores.contains(cores)
    val pinned = if (comparePins) queriesOf(pinRecord).filter(_._2 > 0).toMap else Map.empty[String, Double]
    val pins = JObject("cores" -> pinCores.fold[JValue](JNull)(JInt(_)),
      "session_cores" -> JInt(cores), "compared" -> JBool(comparePins))
    if (!comparePins)
      System.err.println(s"[bench] pins in $pinnedFile tagged ${pinCores.getOrElse("with no")} " +
        s"cores, session has $cores: drift not compared")

    // returns the elapsed time, or None when the query failed — a failed
    // query must NOT fold its near-zero time into best-of-N or the total
    def once(name: String, fn: Query): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // catalog cache is defensive (operators no longer persist);
      // localCheckpoint blocks are GC-managed by the ContextCleaner
      spark.catalog.clearCache()
      Option.when(ok)(dt)
    }
    // Consecutive repeats per query (hot codegen classes + page cache
    // stay warm between a query's own runs, which is exactly the
    // steady state the minimum should measure); returns the successes.
    def measure(n: String, f: Query): Seq[Double] = {
      var oks = List.empty[Double]
      var attempts = 0
      while (attempts < maxIters(iterations) && (attempts < iterations || !agree(oks))) {
        oks = once(n, f).toList ++ oks
        attempts += 1
      }
      oks
    }
    def settle(): Unit = { spark.catalog.clearCache(); System.gc(); Thread.sleep(200) }

    // ---- The run's one record ------------------------------------------
    // `sweeps` are the complete sweeps; `extra` the sweep in progress, a
    // budget-truncated sweep, or drift retries — min-merged into the
    // minima but kept out of the sweep totals.
    var sweeps = Vector.empty[Sweep]
    // per-sweep totals over the queries EVERY sweep completed, so
    // corroboration never mistakes a failed-query gap for speed
    def sweepTotals: Seq[Double] =
      if (sweeps.isEmpty) Nil
      else {
        val common = sweeps.map(_.times.keySet).reduce(_ intersect _)
        sweeps.map(_.times.view.filterKeys(common).values.sum)
      }
    // a query counts as failed only if NO sweep produced a time; one
    // that failed SOME sweep but recovered is still reported (the
    // flakiness signal must not be laundered away by the min-merge)
    def record(extra: Seq[Sweep]): Record = {
      val all = sweeps ++ extra
      val times = all.flatMap(_.times).groupMapReduce(_._1)(_._2)(math.min)
      val everFailed = all.flatMap(_.failed).toSet
      Record(times.toSeq.sortBy(_._1), (everFailed -- times.keySet).toSeq.sorted,
        (everFailed intersect times.keySet).toSeq.sorted, sweeps.size, sweepTotals,
        graft.core.MemoStats.seconds, graft.core.MemoStats.count)
    }

    def render(r: Record, shape: Shape): String = {
      def secs(qs: Seq[(String, Double)]): JValue = JObject(qs.map { case (n, t) => n -> dp(t, 3) }: _*)
      def names(ns: Seq[String]): JValue = JArray(ns.map(JString(_)).toList)
      def ratios(ds: Seq[(String, Double)]): JValue = JObject(ds.map { case (n, x) => n -> dp(x, 2) }: _*)
      val compact = shape == CompactLine
      val total = r.queries.map(_._2).sum
      val head =
        if (compact)
          // bounded to 8 names (plus the count): the compact line must
          // fit a 2 KB tail capture even when a whole fixture fails
          List("n_queries" -> JInt(r.queries.size), "n_failed" -> JInt(r.failed.size),
            "failed_sample" -> names(r.failed.take(8)))
        else List("queries" -> secs(r.queries), "failed" -> names(r.failed),
          "intermittent" -> names(r.intermittent))
      val state =
        if (r.partial) List("partial" -> JBool(true))
        else shape match {
          case FullLine => Nil
          case ResultsFile => List("drift" -> r.drift.fold[JValue](JNull)(ratios),
            "retry_passes" -> JInt(r.retryPasses), "pins" -> r.pins)
          // drift top-8 plus the count, bounded like failed_sample
          case CompactLine => List("n_intermittent" -> JInt(r.intermittent.size),
            "n_drift" -> r.drift.fold[JValue](JNull)(d => JInt(d.size)),
            "drift" -> r.drift.fold[JValue](JNull)(d => ratios(d.take(8))), "pins" -> r.pins)
        }
      // the slow tail (the queries plan work should look at) and a
      // pointer to the full map: the compact line is self-contained
      val tail =
        if (compact) List("full_results" -> JString(outFile),
          "slowest" -> secs(r.queries.sortBy(-_._2).take(12)))
        else Nil
      // Shared-artifact accounting: the min-over-sweeps recipe hides the
      // one-time memo-population cost (sweep 1 pays it, sweep 2's warm
      // time wins the min), so it rides the record as its own fields,
      // and value_plus_artifacts is the COLD-equivalent total.
      JsonMethods.compact(JObject(
        List("metric" -> JString("total"), "unit" -> JString("sec")) ++ head ++ state ++
        List("sf" -> JString(sfDir), "iterations" -> JInt(iterations),
          "sweeps" -> JInt(r.sweeps), "sweep_totals" -> JArray(r.sweepTotals.map(dp(_, 3)).toList),
          "artifact_build_sec" -> dp(r.artifactSec, 3), "artifact_builds" -> JInt(r.artifactBuilds)) ++
        tail ++
        List("value" -> dp(total, 3), "value_plus_artifacts" -> dp(total + r.artifactSec, 3))))
    }

    // Every flush, partial or final: the results file (at 130+ queries
    // the full line outgrows log-tail captures), the full per-query line
    // (a harness killed at its budget finds self-sufficient data in the
    // stdout tail), and LAST the compact line. A TARGETED run (BENCH_ONLY)
    // merges into the existing file instead of clobbering the
    // full-inventory map; the stdout lines keep this run's queries only.
    def emit(r: Record): Unit = {
      val fresh = r.queries.toMap
      val kept =
        if (only.isEmpty) Nil else queriesOf(readJson(outFile)).filterNot(q => fresh.contains(q._1))
      val file = render(r.copy(queries = (kept ++ r.queries).sortBy(_._1)), ResultsFile)
      try Files.writeString(Paths.get(outFile), file + "\n")
      catch { case e: Exception => System.err.println(s"[bench] cannot write $outFile: $e") }
      println(render(r, FullLine))
      println(render(r, CompactLine))
      Console.out.flush()
    }

    // returns the sweep and whether it completed — false when the budget
    // stopped it early; its partial minima still count toward the
    // merged result but the sweep is excluded from corroboration.
    def fullSweep(): (Sweep, Boolean) = {
      val ordered = selected.toSeq.sortBy(_._1)
      var sweep = Sweep(Map.empty, Set.empty)
      var i = 0
      var truncated = false
      while (i < ordered.length && !truncated) {
        val (n, f) = ordered(i)
        val oks = measure(n, f)
        sweep = if (oks.isEmpty) sweep.copy(failed = sweep.failed + n)
                else sweep.copy(times = sweep.times + (n -> oks.min))
        i += 1
        if (budgetNearlySpent && i < ordered.length) {
          truncated = true
          System.err.println(f"[bench] budget ${budgetSec}%.0f s nearly " +
            f"spent at $elapsedSec%.0f s: stopping sweep after $i/${ordered.length} queries")
        } else if (i % 25 == 0) emit(record(Seq(sweep)))
      }
      (sweep, !truncated)
    }

    // ---- Corroborated full sweeps --------------------------------------
    // One sweep's total rides whatever state the box is in for those
    // minutes (r13/r14 adjudication: unchanged code swung 17% between
    // same-session full runs). The recorded artifact is therefore the
    // ELEMENTWISE MIN over >=2 full sweeps — the exact recipe
    // BENCH_PINNED.json is mined with — and the per-sweep totals ride
    // the JSON so a reader can see how much box noise the min absorbed.
    var truncatedSweep = Seq.empty[Sweep]
    var lastSweepSec = 0.0
    var budgetStopped = false
    while (!budgetStopped && sweeps.size < maxSweeps &&
           (sweeps.size < minSweeps || !agree(sweepTotals))) {
      if (sweeps.nonEmpty && budgetSec > 0 && elapsedSec + lastSweepSec > budgetSec * 0.95) {
        budgetStopped = true
        System.err.println(f"[bench] budget: ${sweeps.size} sweeps done in " +
          f"$elapsedSec%.0f s, next (~$lastSweepSec%.0f s) won't fit ${budgetSec}%.0f s — stopping")
      } else {
        if (sweeps.nonEmpty) settle()
        val t0 = System.nanoTime()
        val (sweep, complete) = fullSweep()
        if (complete) {
          sweeps :+= sweep
          lastSweepSec = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] sweep ${sweeps.size}/$maxSweeps " +
            f"total ${sweep.times.values.sum}%.2f s" +
            (if (sweep.failed.nonEmpty) s", ${sweep.failed.size} failed" else ""))
        } else {
          truncatedSweep = Seq(sweep)
          budgetStopped = true
        }
        emit(record(truncatedSweep))
      }
    }

    // ---- JVM-state-noise guard ----------------------------------------
    // A 240-query suite accumulates JVM state (codegen class cache, GC
    // pressure, broadcast cleanup debt); queries late in the sweep can
    // read 2-8x over their true cost even though consecutive repeats
    // corroborate each other (they share the polluted state). Guard:
    // any query whose best time exceeds DriftTol x its pin gets up to
    // RetryPasses retry passes AFTER the sweeps, each preceded by an
    // explicit GC + cache clear, keeping the per-query minimum. Only
    // drift that survives the retries is reported -- so a `drift` entry
    // in the record means a corroborated regression, not scheduler noise.
    var retries = Vector.empty[Sweep]
    def drifting(r: Record): Seq[String] =
      r.queries.collect { case (n, t) if pinned.get(n).exists(p => t > p * DriftTol) => n }
    var names = drifting(record(truncatedSweep))
    while (retries.size < RetryPasses && names.nonEmpty && !budgetNearlySpent) {
      System.err.println(s"[bench] retry pass ${retries.size + 1} for ${names.size} " +
        s"queries over ${DriftTol}x pinned: ${names.take(8).mkString(",")}")
      settle()
      retries :+= Sweep(names.flatMap(n =>
        measure(n, selected(n)).minOption.map(n -> _)).toMap, Set.empty)
      names = drifting(record(truncatedSweep ++ retries))
    }
    val fin = record(truncatedSweep ++ retries)
    if (fin.intermittent.nonEmpty)
      System.err.println(s"[bench] intermittent (failed some sweep, " +
        s"recovered): ${fin.intermittent.mkString(",")}")
    val byName = fin.queries.toMap
    emit(fin.copy(partial = false, retryPasses = retries.size, pins = pins,
      drift = Option.when(comparePins)(names.map(n => n -> byName(n) / pinned(n)).sortBy(-_._2))))
  }
}
