package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Bridge into `private[spark]` storage APIs (BlockManagerMaster), placed
  * under an `org.apache.spark` subpackage the same way Spark's own
  * extensions do it.
  *
  * Why it exists (ADVICE r11): the driver's `getRDDStorageInfo` /
  * `getPersistentRDDs` views enumerate the `persistentRdds` map, which
  * `unpersist` clears SYNCHRONOUSLY regardless of the `blocking` flag —
  * so a "blocks are gone after release" assertion built on them is
  * vacuous, and a cached-blocks metric built on them reads 0 in the
  * exact async-removal-lag failure mode it exists to evidence. These
  * helpers ask the BlockManagerMaster for ACTUAL block state (with
  * `askStorageEndpoints = true`, a live round-trip to the storage
  * endpoints, not the driver's bookkeeping).
  */
object BlockBridge {

  /** All RDD blocks currently held by any block manager — the
    * storage-endpoint truth, not the `persistentRdds` projection. */
  def rddBlocks(sc: SparkContext): Seq[RDDBlockId] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case b: RDDBlockId => b }

  /** RDD blocks belonging to the given RDD ids (e.g. a checkpoint's RDD
    * id read from its plan before a release, to assert the release
    * actually dropped them). */
  def rddBlocksFor(sc: SparkContext, rddIds: Set[Int]): Seq[RDDBlockId] =
    rddBlocks(sc).filter(b => rddIds.contains(b.rddId))

  /** The estimated size of every broadcast VALUE (not its serialized
    * pieces) the driver's memory store holds, by block. Broadcast values
    * are put without telling the master, so this asks the driver's own
    * block manager. */
  def broadcastValueSizes(sc: SparkContext): Map[BroadcastBlockId, Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case b: BroadcastBlockId if b.field.isEmpty && bm.memoryStore.contains(b) =>
        b -> bm.memoryStore.getSize(b)
    }.toMap
  }

  /** The Tungsten page size the driver's memory manager hands out. */
  def pageSizeBytes(sc: SparkContext): Long = sc.env.memoryManager.pageSizeBytes

  /** Drain the async listener bus — lets a measurement listener
    * ([[graft.ProbeJobs]]) read complete job/stage records right after an
    * action returns, instead of racing event delivery. Dev-probe only. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
