package org.apache.spark

/** Test bridge to the `private[spark]` listener bus: blocks until every
  * posted event (query-execution callbacks included) has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
