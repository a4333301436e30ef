package org.apache.spark.graftbus

import org.apache.spark.SparkEnv

/** The cached RDD blocks every block manager holds, by block name. The
  * block manager is `private[spark]`, hence a spark subpackage. */
object CachedBlocks {
  def rddBlocks(): Set[String] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).map(_.name).toSet
}
