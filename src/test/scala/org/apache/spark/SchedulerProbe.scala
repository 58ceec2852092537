package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Test access to scheduler internals a `SparkListener` count needs. */
object SchedulerProbe {
  /** Returns once every event posted so far has reached every
    * listener, so a listener's counts are final.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a map stage). */
  def isShuffleMap(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
