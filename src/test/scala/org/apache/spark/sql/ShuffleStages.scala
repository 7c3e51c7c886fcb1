package org.apache.spark.sql

import org.apache.spark.scheduler.StageInfo

/** Whether a stage writes a shuffle (a plan exchange or an RDD shuffle
  * alike). Test-only: `StageInfo.shuffleDepId` is private to Spark. */
object ShuffleStages {
  def writesShuffle(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
