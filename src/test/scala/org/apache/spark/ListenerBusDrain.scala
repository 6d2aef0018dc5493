package org.apache.spark

/** Test access to the private listener bus: blocks until every event
  * posted so far has reached its listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
