package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus: block (up to a
  * minute) until every posted event has been delivered, so a listener's
  * counts are complete before it is read or removed. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
