package org.apache.spark

/** The listener bus delivers events asynchronously; metrics read right after
  * an action must wait until every event of that action has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
