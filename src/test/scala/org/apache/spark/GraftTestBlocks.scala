package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's `private[spark]` block manager. */
object GraftTestBlocks {

  /** Ids of the broadcast variables whose value the driver still holds,
    * without the scheduler's task binaries (byte-array values, released by
    * the ContextCleaner once their stage is collected). */
  def liveBroadcasts(sc: SparkContext): Set[Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, field) => field.isEmpty
      case _ => false
    }.flatMap {
      case id @ BroadcastBlockId(bid, _) =>
        // reading the iterator to its end releases the block's read lock
        bm.getLocalValues(id).map(_.data.toList).collect {
          case v :: Nil if !v.isInstanceOf[Array[Byte]] => bid
        }
      case _ => None
    }.toSet
  }
}
