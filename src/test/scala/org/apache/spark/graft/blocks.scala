package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's block manager, which is `private[spark]`
  * (the same bridge as `org.apache.spark.sql.graft.shim`).
  */
object blocks {

  /** Broadcast id → value, for every broadcast whose whole value the
    * driver's block manager of `sc` holds.
    */
  def broadcastValues(sc: SparkContext): Map[Long, Any] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).flatMap {
      case id @ BroadcastBlockId(b, "") =>
        // draining the iterator releases the read lock
        bm.getLocalValues(id).flatMap(_.data.toList.headOption).map(b -> _)
      case _ => None
    }.toMap
  }
}
