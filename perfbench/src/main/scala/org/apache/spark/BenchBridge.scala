package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark drains it after each operation so every listener event of
  * that operation has been counted before the next one starts.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
