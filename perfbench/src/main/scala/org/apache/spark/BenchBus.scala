package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered (the bus is private to Spark's own package).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
