package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait until
  * every event of a pass has been delivered before it reads its records.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
