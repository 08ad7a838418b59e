package graft

import org.apache.spark.SparkConf
import graft.core.GraftSession

/** The session factory runs wherever it is launched: spark-submit sets
  * `spark.master` as a system property before the driver builds its
  * session, and a fresh SparkConf carries it into the factory. Its
  * saved tables stay private to the JVM that wrote them.
  */
class GraftSessionSpec extends SparkSpec {

  test("a pre-set master wins over the local default and shuffles at cluster width") {
    val submitted = new SparkConf(false).set("spark.master", "yarn")
    assert(GraftSession.masterAndWidth(submitted, cores = 4) === ((None, 512)))
    assert(GraftSession.masterAndWidth(new SparkConf(false), cores = 4) ===
      ((Some("local[4]"), 4)))
  }

  test("the session's warehouse directory belongs to this JVM alone") {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val shared = new java.io.File(sys.props("java.io.tmpdir"), "graft_warehouse")
    assert(wh.toUri.getPath ===
      new java.io.File(shared, ProcessHandle.current().pid().toString).getAbsolutePath)
  }
}
