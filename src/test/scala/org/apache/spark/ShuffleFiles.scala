package org.apache.spark

/** Test access to shuffle bookkeeping Spark keeps package-private. */
object ShuffleFiles {
  /** The id of the shuffle `stage` writes, if it is a map stage. */
  def writtenBy(stage: org.apache.spark.scheduler.StageInfo): Option[Int] =
    stage.shuffleDepId

  /** Ids of the shuffles whose data files the driver's block manager
    * still holds on local disk (the whole store in local mode).
    */
  def onDisk(sc: SparkContext): Set[Int] =
    sc.env.blockManager.diskBlockManager.getAllBlocks().collect {
      case org.apache.spark.storage.ShuffleDataBlockId(id, _, _) => id
    }.toSet
}
