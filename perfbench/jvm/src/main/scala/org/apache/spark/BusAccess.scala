package org.apache.spark

/** The listener bus is private to Spark; the runner waits for it to deliver
  * every event before it sums a trace or reads the heap. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
