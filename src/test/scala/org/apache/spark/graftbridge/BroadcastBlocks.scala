package org.apache.spark.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** `private[spark]` read the registry specs need: every broadcast value
  * the local block manager still holds, by broadcast id (whole values
  * only, not their torrent pieces). */
object BroadcastBlocks {
  def held(): Map[Long, Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap { case id: BroadcastBlockId =>
      // consuming the iterator releases the block's read lock
      bm.getLocalValues(id).flatMap(_.data.toList.headOption)
        .map(id.broadcastId -> _)
    }.toMap
  }
}
