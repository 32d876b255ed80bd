package org.apache.spark.scheduler

/** Whether a stage writes a shuffle, which Spark keeps package-private. */
object StageKinds {
  def writesShuffle(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
