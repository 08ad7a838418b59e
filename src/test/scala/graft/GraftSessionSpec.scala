package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** The session factory runs wherever it is launched: spark-submit sets
  * `spark.master` as a system property before the driver builds its
  * session, and a fresh SparkConf carries it into the factory.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("a pre-set master wins over the local default and shuffles at cluster width") {
    val submitted = new SparkConf(false).set("spark.master", "yarn")
    assert(GraftSession.masterAndWidth(submitted, cores = 4) === ((None, 512)))
    assert(GraftSession.masterAndWidth(new SparkConf(false), cores = 4) ===
      ((Some("local[4]"), 4)))
  }
}
