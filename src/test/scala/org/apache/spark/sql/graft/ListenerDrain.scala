package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: listener events are delivered
  * asynchronously, so totals are read only after the bus drains. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
