package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a count read right after
  * an action must first wait for the bus to drain. `listenerBus` is
  * package-private to Spark, hence this one-line bridge.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
