package graft.tools

import org.apache.spark.sql.SparkSession

/** Measurement probe (r17 verdict item 8): time named SparkEntry
  * queries with AQE on vs off in two child sessions sharing one
  * context, to quantify per-round adaptive re-planning overhead on the
  * iterative graph tier. Usage: Test/runMain graft.tools.AqeProbe <sfDir>
  * <name> [name...]. Prints one line per (query, mode) with the
  * min/median over SPARK_GRAFT_PROBE_ITERS (default 5) noop-sink runs.
  */
object AqeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROBE_ITERS", "5").toInt
    val base = graft.core.GraftSession.local("graft-aqe-probe",
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    base.sparkContext.setLogLevel("ERROR")
    def session(aqe: Boolean): SparkSession = {
      val s = base.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      s
    }
    val sessions = Seq("aqe_on" -> session(true), "aqe_off" -> session(false))
    for (name <- names; (mode, s) <- sessions) {
      val fn = graft.SparkEntry.queries(name)
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        fn(s, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"$name%-28s $mode%-8s min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    base.stop()
  }
}
