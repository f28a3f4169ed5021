package org.apache.spark

/** Test support: lose an RDD's cached blocks the way an executor loss
  * does — the block manager master forgets them and every block manager
  * drops them — while the RDD itself stays marked persisted.
  * `BlockManagerMaster` is `private[spark]`, hence this package.
  */
object BlockLoss {
  def drop(rddIds: Iterable[Int]): Unit =
    rddIds.foreach(id => SparkEnv.get.blockManager.master.removeRdd(id, blocking = true))
}
