package org.apache.spark

/** The listener bus is package-private; job-counting specs wait until
  * every event of the calls they measured has been delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
