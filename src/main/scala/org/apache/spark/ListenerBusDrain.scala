package org.apache.spark

/** The listener bus is private to Spark; a probe waits until every posted
  * event has been delivered before it reads what its listener recorded.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
