package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the SparkContext's listener bus, which Spark keeps private:
  * a traced run must see every job and stage event of a span before it
  * aggregates them.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
