package org.apache.spark

/** The listener bus is package-private; the tracer needs to wait until
  * every event of the calls it traced has been delivered before it
  * reads its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
