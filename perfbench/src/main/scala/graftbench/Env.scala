package graftbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** The run's software stamp: versions and a hash of the session conf. */
object Env {
  /** Per-process values (ids, ports, hosts, start times, local paths)
    * that differ between two runs of one configuration.
    */
  private val volatile = Set(
    "spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port", "spark.executor.id",
    "spark.sql.warehouse.dir", "spark.local.dir")

  def describe(spark: SparkSession): Map[String, Any] = {
    val conf = spark.conf.getAll.toSeq.filterNot { case (k, _) => volatile(k) }.sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(conf.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
    ListMap(
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "conf_sha256" -> digest.map(b => f"$b%02x").mkString,
      "conf_keys" -> conf.size,
      "cores" -> spark.sparkContext.defaultParallelism)
  }
}
