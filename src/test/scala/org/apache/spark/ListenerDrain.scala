package org.apache.spark

/** Test access to the package-private listener bus: a spec that counts
  * events with a listener drains the bus before reading its counts.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
