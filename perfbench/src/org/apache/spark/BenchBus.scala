package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every event
  * before it reads the listener's totals (the bus is asynchronous). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
