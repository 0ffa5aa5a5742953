package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Drains the listener bus, which Spark keeps `private[spark]`: events
  * are delivered asynchronously, so a listener's counters lag the action
  * that fired them until the bus is empty.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
