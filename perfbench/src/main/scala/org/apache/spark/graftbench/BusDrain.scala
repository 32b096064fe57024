package org.apache.spark.graftbench

import org.apache.spark.{SparkContext, SparkEnv}

/** One-line bridges into `private[spark]` members the benchmark needs:
  * waiting until every posted listener event has been delivered before
  * listener counters are read (instead of sleeping for a guessed
  * interval), and dropping the blocks of an RDD that is not registered
  * as persistent (a `localCheckpoint` pin). */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def removeRdd(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
