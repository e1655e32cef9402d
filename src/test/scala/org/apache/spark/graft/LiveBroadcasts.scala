package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** The broadcasts the driver's block manager still holds, for leak checks
  * (the block manager is Spark-private, hence this package).
  */
object LiveBroadcasts {
  /** Ids of the live broadcasts whose value is a `long[]`. */
  def ofLongArrays(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, field) => field.isEmpty
      case _ => false
    }.collect { case b: BroadcastBlockId => b }
      // draining the iterator releases the read lock getLocalValues takes
      .filter(b => bm.getLocalValues(b).exists(_.data.toList.exists(_.isInstanceOf[Array[Long]])))
      .map(_.broadcastId).toSet
  }
}
