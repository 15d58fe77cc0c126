package org.apache.spark

import org.apache.spark.storage.BlockId

/** Test access to `private[spark]` hooks: waiting until every posted
  * listener event is delivered, and the stored blocks of an RDD. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Blocks of RDD `rddId` this JVM's block manager holds. */
  def rddBlocks(rddId: Int): Seq[BlockId] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.asRDDId.exists(_.rddId == rddId)).toSeq

  /** Drops every stored block of RDD `rddId`, as the loss of the
    * executors holding them would; the RDD stays persisted. */
  def dropRddBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
