package org.apache.spark

/** Test access to the private[spark] driver BlockManager: the names of
  * the broadcast blocks it holds now.
  */
object DriverBroadcastBlocks {
  def apply(sc: SparkContext): Set[String] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast).map(_.name).toSet
}
