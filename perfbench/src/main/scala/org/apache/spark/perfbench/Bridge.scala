package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** `private[spark]` reads the benchmark needs and Spark does not expose:
  * draining the listener bus (so counters read after an operation are
  * complete), storage memory in use (cached RDD blocks plus broadcast
  * blocks held in memory), and the broadcast ids the local block
  * manager still holds.
  */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def storageBytes(): Long =
    Option(SparkEnv.get).flatMap(e => Option(e.memoryManager))
      .map(_.storageMemoryUsed).getOrElse(0L)

  def broadcastIds(): Set[Long] = Option(SparkEnv.get).filter(_.blockManager != null).map { env =>
    env.blockManager.getMatchingBlockIds(_.isBroadcast).collect {
      case b: BroadcastBlockId => b.broadcastId
    }.toSet
  }.getOrElse(Set.empty[Long])
}
