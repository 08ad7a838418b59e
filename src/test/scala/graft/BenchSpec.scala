package graft

import java.nio.file.{Files, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The Bench output contract: every line and the results file render
  * one record with a fixed key set per shape, failures ride every line
  * once seen, targeted runs merge into the results file, and pins are
  * compared only on the core count and tier they were mined on.
  */
class BenchSpec extends SparkSpec {

  private val real = Seq("a4_distinct", "p1_project_rename")
  private val boom = "zz_always_fails"
  private val queries = SparkEntry.queries.filter { case (n, _) => real.contains(n) } +
    (boom -> ((_: org.apache.spark.sql.SparkSession, _: String) => throw new RuntimeException("boom")))

  private val common = Set("metric", "unit", "sf", "iterations", "sweeps", "sweep_totals",
    "artifact_build_sec", "artifact_builds", "value", "value_plus_artifacts")
  private val fullKeys = common ++ Set("queries", "failed", "intermittent")
  private val compactKeys = common ++ Set("n_queries", "n_failed", "failed_sample",
    "full_results", "slowest")
  private val partialFull = fullKeys + "partial"
  private val partialCompact = compactKeys + "partial"
  private val finalFile = fullKeys ++ Set("drift", "retry_passes", "pins")
  private val finalCompact = compactKeys ++ Set("n_intermittent", "n_drift", "drift", "pins")

  private def keys(j: JValue): Set[String] = j match {
    case JObject(fs) => fs.map(_._1).toSet
    case _ => Set.empty
  }
  private def names(j: JValue): Set[String] = j match {
    case JArray(xs) => xs.collect { case JString(s) => s }.toSet
    case _ => Set.empty
  }
  private def secs(j: JValue): Map[String, Double] = j match {
    case JObject(fs) => fs.collect { case (k, JDouble(v)) => k -> v }.toMap
    case _ => Map.empty
  }

  /** Runs Bench on sf0.001, one sweep of one-iteration minimum; returns
    * the parsed stdout JSON lines and the results file.
    */
  private def bench(dir: Path, extra: Map[String, String]): (Seq[JValue], JValue) = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Bench.run(spark, Map("SPARK_GRAFT_SF_DIR" -> sfDir, "SPARK_GRAFT_BENCH_ITERS" -> "1",
        "SPARK_GRAFT_BENCH_SWEEPS" -> "1") ++ extra, queries,
        dir.resolve("pins.json").toString, dir.resolve("results.json").toString)
    }
    val lines = buf.toString("UTF-8").split("\n").toSeq.filter(_.startsWith("{"))
    (lines.map(JsonMethods.parse(_)), JsonMethods.parse(Files.readString(dir.resolve("results.json"))))
  }

  private def writePins(dir: Path, cores: Int, pins: Map[String, Double],
                        sf: Option[String] = None): Unit =
    Files.writeString(dir.resolve("pins.json"), JsonMethods.compact(JObject(
      sf.map("sf" -> JString(_)).toList ++ List(
        "cores" -> JInt(cores), "queries" -> JObject(pins.map { case (k, v) => k -> JDouble(v) }.toList)))))

  test("every line renders one record: parent key sets, failures on every line, compact last") {
    val dir = Files.createTempDirectory("graft_bench")
    val cores = spark.sparkContext.defaultParallelism
    writePins(dir, cores + 1, real.map(_ -> 1e-6).toMap)
    val (lines, file) = bench(dir, Map.empty)
    // one sweep: its partial flush (full + compact), then the final pair
    assert(lines.map(keys) === Seq(partialFull, partialCompact, fullKeys, finalCompact))
    assert(keys(file) === finalFile)
    assert(lines.last \ "full_results" === JString(dir.resolve("results.json").toString))
    for (l <- lines :+ file) {
      if (keys(l)("queries")) {
        assert(names(l \ "failed") === Set(boom))
        assert(secs(l \ "queries").keySet === real.toSet)
      } else {
        assert(l \ "n_failed" === JInt(1))
        assert(names(l \ "failed_sample") === Set(boom))
        assert(l \ "n_queries" === JInt(2))
      }
    }
    // pins tagged with another core count: no retries, drift not judged
    for (l <- Seq(lines.last, file))
      assert(l \ "pins" === JObject("cores" -> JInt(cores + 1),
        "session_cores" -> JInt(cores), "compared" -> JBool(false)))
    assert(file \ "retry_passes" === JInt(0))
    assert(file \ "drift" === JNull && lines.last \ "n_drift" === JNull)
    assert(secs(file \ "queries").values.forall(_ > 0))
  }

  test("a targeted run merges into the results file; a matching-core pin drives retries") {
    val dir = Files.createTempDirectory("graft_bench_only")
    val (_, first) = bench(dir, Map.empty)
    val firstQs = secs(first \ "queries")
    val Seq(target, other) = real
    writePins(dir, spark.sparkContext.defaultParallelism, Map(target -> firstQs(target) * 0.001))
    val (lines, file) = bench(dir, Map("SPARK_GRAFT_BENCH_ONLY" -> target))
    // the file keeps the untouched query's time and refreshes the target
    val merged = secs(file \ "queries")
    assert(merged.keySet === real.toSet)
    assert(merged(other) === firstQs(other))
    assert((file \ "value") match {
      case JDouble(v) => math.abs(v - merged.values.sum) < 0.002
      case _ => false
    })
    // stdout keeps this run's queries only
    assert(secs(lines.last \ "slowest").keySet === Set(target))
    // the pin is 1000x under the real time: both retry passes run and
    // the drift survives them
    assert(file \ "retry_passes" === JInt(Bench.RetryPasses))
    assert(keys(file \ "drift") === Set(target))
    assert(lines.last \ "n_drift" === JInt(1))
    assert(file \ "pins" \ "compared" === JBool(true))
  }

  test("pins mined on another tier are not compared, even at matching cores") {
    val dir = Files.createTempDirectory("graft_bench_tier")
    val cores = spark.sparkContext.defaultParallelism
    // 1e-6 s pins would drive both retry passes if they were judged
    writePins(dir, cores, real.map(_ -> 1e-6).toMap, sf = Some("/elsewhere/sf0.1"))
    val (lines, file) = bench(dir, Map("SPARK_GRAFT_BENCH_ONLY" -> real.head))
    for (l <- Seq(lines.last, file))
      assert(l \ "pins" === JObject("cores" -> JInt(cores),
        "session_cores" -> JInt(cores), "compared" -> JBool(false)))
    assert(file \ "retry_passes" === JInt(0))
    assert(file \ "drift" === JNull && lines.last \ "n_drift" === JNull)
  }
}
