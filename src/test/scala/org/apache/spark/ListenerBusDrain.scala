package org.apache.spark

/** Test access to the (package-private) listener bus: events are
  * delivered asynchronously, so a listener's totals are read only after
  * the bus has drained. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
