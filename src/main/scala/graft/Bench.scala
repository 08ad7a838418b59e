package graft

import org.apache.spark.sql.SparkSession

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
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local("graft-bench")
    // Adaptive repeats: at least `iterations` runs per query, then keep
    // going (to maxIterations) until the two fastest runs agree within
    // 8% — a minimum that no single lucky/unlucky run can define. The
    // box shows multi-second noise bursts; corroborated minima are what
    // make round-over-round BENCH deltas reflect code, not scheduler
    // state.
    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val maxIterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_ITERS",
      math.max(iterations + 4, 7).toString).toInt
    // Drift-guard knobs parsed UP FRONT with the iteration knobs: a
    // malformed value must fail before the sweep runs, not after
    // minutes of measurement with nothing written.
    // Tolerance 1.6: pins are corroborated minima over 4+ full runs, so
    // sub-second queries sit 1.3-1.55x over their own floor on a normal
    // pass — 1.6 keeps the guard quiet there while still tripping (and
    // retry-corroborating) anything approaching a real 2x regression.
    val pinnedFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_PINNED", "BENCH_PINNED.json")
    val driftTol = sys.env.getOrElse("SPARK_GRAFT_BENCH_DRIFT_TOL", "1.6").toDouble
    val maxRetryPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_PASSES", "2").toInt
    // Wall-clock budget in seconds; 0 disables. When set, the sweep
    // machinery degrades gracefully: fewer sweeps, and in the limit a
    // truncated first sweep whose partial minima are still flushed.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "0").toDouble
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    def budgetNearlySpent: Boolean = budgetSec > 0 && elapsedSec > budgetSec * 0.95
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    // Optional comma-separated query-name filter for local iteration.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    // returns (elapsed, succeeded) — a failed query must NOT fold its
    // near-zero elapsed time into best-of-N or the total.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
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
      (dt, ok)
    }
    // Consecutive repeats per query (hot codegen classes + page cache
    // stay warm between a query's own runs, which is exactly the
    // steady state the minimum should measure); stop once the best two
    // times corroborate each other.
    def corroborated(ts: Seq[Double]): Boolean = ts.size >= 2 && {
      val s = ts.sorted
      s(1) <= s(0) * 1.08
    }
    def measure(n: String, f: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Seq[Double], Int) = {
      var oks = List.empty[Double]
      var attempts = 0
      while (attempts < maxIterations &&
             (attempts < iterations || !corroborated(oks))) {
        val (dt, ok) = once(n, f)
        if (ok) oks = dt :: oks
        attempts += 1
      }
      (oks, attempts)
    }
    // ---- Incremental flush ----------------------------------------------
    // Min-merge everything measured so far (complete sweeps + the sweep
    // in progress) into the outFile and a compact stdout line. A
    // timeout-killed run's last stdout line is then the latest flush —
    // parseable per-query data instead of rc 124 with nothing.
    def flushProgress(runs: Vector[(Map[String, Double], Set[String])],
                      inProgress: Map[String, Double],
                      sweepTotalsSoFar: Seq[Double]): Unit = {
      val res = (runs.map(_._1) :+ inProgress).flatMap(_.toSeq)
        .groupMapReduce(_._1)(_._2)(math.min).toSeq.sortBy(_._1)
      if (res.isEmpty) return
      val total = res.map(_._2).sum
      val artifactSec = graft.core.MemoStats.seconds
      val artifactN = graft.core.MemoStats.count
      val qs = res.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
      val stJson = sweepTotalsSoFar.map(t => f"$t%.3f").mkString("[", ",", "]")
      val json =
        f"""{"metric":"total","unit":"sec","queries":$qs,"failed":[],"intermittent":[],"partial":true,"sweeps":${runs.size},"sf":"$sfDir","iterations":$iterations,"sweep_totals":$stJson,"artifact_build_sec":$artifactSec%.3f,"artifact_builds":$artifactN,"value":$total%.3f,"value_plus_artifacts":${total + artifactSec}%.3f}"""
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] cannot write $outFile: $e") }
      // stdout gets the FULL per-query line too (not only the compact
      // one): a harness that captures stdout and is later killed at its
      // budget must find self-sufficient per-query data in the tail
      // without reading the results file
      println(json)
      val slowest = res.sortBy(-_._2).take(12)
        .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      println(f"""{"metric":"total","unit":"sec","n_queries":${res.size},"n_failed":0,"failed_sample":[],"partial":true,"sweeps":${runs.size},"sf":"$sfDir","iterations":$iterations,"sweep_totals":$stJson,"artifact_build_sec":$artifactSec%.3f,"artifact_builds":$artifactN,"full_results":"$outFile","slowest":$slowest,"value":$total%.3f,"value_plus_artifacts":${total + artifactSec}%.3f}""")
      System.out.flush()
    }
    // ---- Corroborated full sweeps --------------------------------------
    // One sweep's total rides whatever state the box is in for those
    // minutes (r13/r14 adjudication: unchanged code swung 17% between
    // same-session full runs). The recorded artifact is therefore the
    // ELEMENTWISE MIN over >=2 full sweeps — the exact recipe
    // BENCH_PINNED.json is mined with — and the per-sweep totals ride
    // the JSON so a reader can see how much box noise the min absorbed.
    // ADAPTIVE sweep count (the BASELINE.md pin-recipe rule, in-process):
    // run at least `minSweeps`, and when the two best sweep totals still
    // disagree by >8% — one sweep rode a box-noise burst — keep sweeping
    // to `maxSweeps` until two totals corroborate each other. SWEEPS=1
    // stays a single quick local sweep (maxSweeps defaults to minSweeps
    // then); the default 2 escalates to <=4.
    val minSweeps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_SWEEPS", "2").toInt)
    val maxSweeps = math.max(minSweeps, sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_MAX_SWEEPS",
      (if (minSweeps <= 1) minSweeps else 4).toString).toInt)
    var sweepRuns = Vector.empty[(Map[String, Double], Set[String])]
    var sweepWallDurs = Vector.empty[Double]
    def sweepTotalsSoFar: Seq[Double] = {
      if (sweepRuns.isEmpty) Nil
      else {
        val common = sweepRuns.map(_._1.keySet).reduce(_ intersect _)
        sweepRuns.map(_._1.filter(kv => common(kv._1)).values.sum)
      }
    }
    // returns (times, failedSet, complete) — `complete` false when the
    // budget stopped the sweep early; partial minima still count toward
    // the merged result but the sweep is excluded from corroboration.
    def fullSweep(): (Map[String, Double], Set[String], Boolean) = {
      val ordered = selected.toSeq.sortBy(_._1)
      var done = List.empty[(String, (Seq[Double], Int))]
      var i = 0
      var sinceFlush = 0
      var truncated = false
      while (i < ordered.length && !truncated) {
        val (n, f) = ordered(i)
        done ::= (n -> measure(n, f))
        i += 1
        sinceFlush += 1
        if (budgetNearlySpent && i < ordered.length) {
          truncated = true
          System.err.println(f"[bench] budget ${budgetSec}%.0f s nearly " +
            f"spent at $elapsedSec%.0f s: stopping sweep after $i/${ordered.length} queries")
        } else if (sinceFlush >= 25) {
          sinceFlush = 0
          flushProgress(sweepRuns,
            done.collect { case (n2, (oks, _)) if oks.nonEmpty => n2 -> oks.min }.toMap,
            sweepTotalsSoFar)
        }
      }
      (done.collect { case (n, (oks, _)) if oks.nonEmpty => n -> oks.min }.toMap,
       done.collect { case (n, (oks, _)) if oks.isEmpty => n }.toSet,
       !truncated)
    }
    // totals compared over the queries EVERY sweep completed, so the
    // corroboration check never mistakes a failed-query gap for speed
    def sweepsCorroborated: Boolean = sweepRuns.size >= 2 && {
      val common = sweepRuns.map(_._1.keySet).reduce(_ intersect _)
      val totals = sweepRuns.map(_._1.view.filterKeys(common).values.sum).sorted
      totals(1) <= totals(0) * 1.08
    }
    // a truncated (budget-stopped) sweep's partial data, min-merged into
    // the final results but kept out of the corroboration machinery
    var partialSweep: Map[String, Double] = Map.empty
    def nextSweepFits: Boolean = budgetSec <= 0 || sweepWallDurs.isEmpty ||
      elapsedSec + sweepWallDurs.last <= budgetSec * 0.95
    var budgetStopped = false
    while (!budgetStopped && sweepRuns.size < maxSweeps &&
           (sweepRuns.size < minSweeps || !sweepsCorroborated)) {
      if (sweepRuns.nonEmpty && !nextSweepFits) {
        budgetStopped = true
        System.err.println(f"[bench] budget: ${sweepRuns.size} sweeps done in " +
          f"$elapsedSec%.0f s, next (~${sweepWallDurs.last}%.0f s) won't fit " +
          f"${budgetSec}%.0f s — stopping")
      } else {
        if (sweepRuns.nonEmpty) { spark.catalog.clearCache(); System.gc(); Thread.sleep(200) }
        val t0 = System.nanoTime()
        val (times, failedSet, complete) = fullSweep()
        val wallDur = (System.nanoTime() - t0) / 1e9
        if (complete) {
          sweepRuns :+= ((times, failedSet))
          sweepWallDurs :+= wallDur
          System.err.println(f"[bench] sweep ${sweepRuns.size}/$maxSweeps " +
            f"total ${times.values.sum}%.2f s" +
            (if (failedSet.nonEmpty) s", ${failedSet.size} failed" else ""))
          flushProgress(sweepRuns, Map.empty, sweepTotalsSoFar)
        } else {
          partialSweep = times
          budgetStopped = true
          flushProgress(sweepRuns, partialSweep, sweepTotalsSoFar)
        }
      }
    }
    val sweeps = sweepRuns.size
    // a query counts as failed only if NO sweep produced a time; one
    // that failed SOME sweep but recovered is still reported (the
    // flakiness signal must not be laundered away by the min-merge)
    val failed =
      if (sweepRuns.isEmpty) Seq.empty[String]
      else sweepRuns.map(_._2).reduce(_ intersect _).toSeq.sorted
    val intermittent =
      (sweepRuns.flatMap(_._2).toSet -- failed).toSeq.sorted
    if (intermittent.nonEmpty)
      System.err.println(s"[bench] intermittent (failed some sweep, " +
        s"recovered): ${intermittent.mkString(",")}")
    var results = (sweepRuns.map(_._1) :+ partialSweep).flatMap(_.toSeq)
      .groupMapReduce(_._1)(_._2)(math.min).toSeq.sortBy(_._1)
    // per-sweep totals over the queries every sweep completed — the
    // corroboration record (comparable numbers, same query set)
    val sweepTotals = sweepTotalsSoFar
    // ---- JVM-state-noise guard ----------------------------------------
    // A 240-query suite accumulates JVM state (codegen class cache, GC
    // pressure, broadcast cleanup debt); queries late in the sweep can
    // read 2-8x over their true cost even though consecutive repeats
    // corroborate each other (they share the polluted state). Guard:
    // any query whose best time exceeds driftTol x its BENCH_PINNED.json
    // entry gets up to two retry passes AFTER the sweep, each preceded
    // by an explicit GC + cache clear, keeping the per-query minimum.
    // Only drift that survives the retries is reported -- so a `drift`
    // entry in the artifact means a corroborated regression, not
    // scheduler noise.
    val pinned: Map[String, Double] =
      try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val p = java.nio.file.Paths.get(pinnedFile)
        if (!java.nio.file.Files.exists(p)) Map.empty
        else (JsonMethods.parse(java.nio.file.Files.readString(p)) \ "queries") match {
          case JObject(fields) => fields.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
      } catch { case _: Throwable => Map.empty }
    def drifting(rs: Seq[(String, Double)]): Seq[String] =
      rs.collect { case (n, v) if pinned.get(n).exists(p => v > p * driftTol) => n }
    var retryPass = 0
    var names = drifting(results)
    while (retryPass < maxRetryPasses && names.nonEmpty && !budgetNearlySpent) {
      retryPass += 1
      System.err.println(s"[bench] retry pass $retryPass for ${names.size} " +
        s"queries over ${driftTol}x pinned: ${names.take(8).mkString(",")}")
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200)
      val best = results.toMap
      val retried = names.flatMap { n =>
        selected.get(n).flatMap { f =>
          val (oks, _) = measure(n, f)
          if (oks.nonEmpty) Some(n -> math.min(best(n), oks.min)) else None
        }
      }.toMap
      results = results.map { case (n, v) => n -> retried.getOrElse(n, v) }
      names = drifting(results)
    }
    val byName = results.toMap
    val residualDrift = names.map(n => n -> byName(n) / pinned(n)).sortBy(-_._2)
    val driftJson = residualDrift
      .map { case (n, r) => "\"" + n + f"\":$r%.2f" }.mkString("{", ",", "}")
    // compact-line variant bounded like failedCompact: the 2 KB tail
    // capture must survive a mass-drift run (stale pins, slow box) —
    // top-8 ratios plus the n_drift count tell the whole story.
    val driftCompact = residualDrift.take(8)
      .map { case (n, r) => "\"" + n + f"\":$r%.2f" }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val intermittentJson =
      intermittent.map("\"" + _ + "\"").mkString("[", ",", "]")
    // A TARGETED run (BENCH_ONLY) merges over the existing full record
    // instead of clobbering it — the on-disk file stays the
    // full-inventory map with the targeted queries refreshed. Full
    // runs still rewrite from scratch.
    val merged: Seq[(String, Double)] =
      if (only.isEmpty || !java.nio.file.Files.exists(java.nio.file.Paths.get(outFile))) results
      else try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val old = JsonMethods.parse(
          java.nio.file.Files.readString(java.nio.file.Paths.get(outFile)))
        val oldQs = (old \ "queries") match {
          case JObject(fields) => fields.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
          }
          case _ => Nil
        }
        val fresh = results.toMap
        (oldQs.filterNot { case (k, _) => fresh.contains(k) } ++ results)
          .sortBy(_._1)
      } catch { case _: Throwable => results }
    val qs = merged.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = merged.map(_._2).sum
    val sweepTotalsJson = sweepTotals.map(t => f"$t%.3f").mkString("[", ",", "]")
    // Shared-artifact accounting: the min-over-sweeps recipe hides the
    // one-time memo-population cost (sweep 1 pays it, sweep 2's warm
    // time wins the min), so the amortized cost rides the JSON as its
    // own fields instead of silently vanishing from per-query times —
    // and value_plus_artifacts is the COLD-equivalent total (value +
    // one-time artifact builds) so round-over-round comparisons can be
    // made on both bases without spelunking (r16 verdict item 10).
    val artifactSec = graft.core.MemoStats.seconds
    val artifactN = graft.core.MemoStats.count
    val artifactFields =
      f""""artifact_build_sec":$artifactSec%.3f,"artifact_builds":$artifactN"""
    val fullJson =
      f"""{"metric":"total","unit":"sec","queries":$qs,"failed":$failedJson,"intermittent":$intermittentJson,"drift":$driftJson,"retry_passes":$retryPass,"sf":"$sfDir","iterations":$iterations,"sweeps":$sweeps,"sweep_totals":$sweepTotalsJson,$artifactFields,"value":$total%.3f,"value_plus_artifacts":${total + artifactSec}%.3f}"""
    // The full line first (complete per-query map for the log)…
    val runTotal = results.map(_._2).sum
    println(f"""{"metric":"total","unit":"sec","queries":${results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")},"failed":$failedJson,"intermittent":$intermittentJson,"sf":"$sfDir","iterations":$iterations,"sweeps":$sweeps,"sweep_totals":$sweepTotalsJson,$artifactFields,"value":$runTotal%.3f,"value_plus_artifacts":${runTotal + artifactSec}%.3f}""")
    // …then persisted to a file: at 130+ queries the line outgrows
    // log-tail captures, so the machine-readable copy lives on disk.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] cannot write $outFile: $e") }
    // …and the LAST stdout line is a compact, self-contained JSON that
    // always fits a 2 KB tail capture: headline total + the slow tail
    // (the queries plan work should look at) + pointer to the full map.
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    // failed list bounded to 8 names (plus the count): a fixture-wide
    // failure would otherwise blow the compact line past the tail
    // capture in exactly the scenario where it matters most.
    val failedCompact = failed.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""{"metric":"total","unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed_sample":$failedCompact,"n_intermittent":${intermittent.size},"n_drift":${residualDrift.size},"drift":$driftCompact,"sf":"$sfDir","iterations":$iterations,"sweeps":$sweeps,"sweep_totals":$sweepTotalsJson,$artifactFields,"full_results":"$outFile","slowest":$slowest,"value":$runTotal%.3f,"value_plus_artifacts":${runTotal + artifactSec}%.3f}""")
    spark.stop()
  }
}
