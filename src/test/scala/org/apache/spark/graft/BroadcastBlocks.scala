package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.{BlockId, BroadcastBlockId}

/** Test access to the driver's block manager, which is `private[spark]`. */
object BroadcastBlocks {

  /** The blocks of broadcast `id` (its value and its pieces) that the
    * driver's block manager holds. */
  def of(sc: SparkContext, id: Long): Seq[BlockId] =
    sc.env.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(`id`, _) => true
      case _ => false
    }
}
