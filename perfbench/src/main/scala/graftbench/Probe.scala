package graftbench

import graft.core.GraftSession

/** One set-up sample: a fresh JVM to a ready GraftSession. Prints the
  * epoch millisecond at which the session was ready, then stops it.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    println(System.currentTimeMillis())
    spark.stop()
  }
}
