package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Test access to Spark internals: the scheduler state a
  * `SparkListener` count needs, and Spark's self-deleting temp dirs.
  */
object SchedulerProbe {
  /** Returns once every event posted so far has reached every
    * listener, so a listener's counts are final.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a map stage). */
  def isShuffleMap(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined

  /** A new directory under `java.io.tmpdir`, deleted with its contents
    * by Spark's shutdown hook when the JVM exits.
    */
  def tempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)
}
