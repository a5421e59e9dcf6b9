package org.apache.spark

/** The listener bus is private to Spark; the traced pass needs to wait until
  * every event of a finished query has been delivered before reading its
  * counters. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
