package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs it drained
  * before it reads what its listener recorded.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
