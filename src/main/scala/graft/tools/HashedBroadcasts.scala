package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The broadcast hash relations executed plans build. Each one is a
  * `HashedRelation` in every JVM of the application; a string-keyed
  * one allocates at least one `BytesToBytesMap` page
  * (`spark.buffer.pageSize`, 16 MiB on a 4-core, 3 GB JVM) however few
  * rows its build side has, and the block store keeps it until the
  * `ContextCleaner` runs. So their number per pass is a memory cost
  * of the plan's shape.
  */
object HashedBroadcasts extends AdaptiveSparkPlanHelper {

  /** The build sides (the exchange under each join) of the
    * `BroadcastHashJoinExec`s in an executed plan, walked through AQE
    * query stages and subqueries. A build side that reads a
    * `ReusedExchange` builds nothing and is left out. A build AQE ran
    * and then pruned from the final plan (an empty side) is not seen.
    */
  def builds(plan: SparkPlan): Seq[SparkPlan] = {
    def unstage(p: SparkPlan): SparkPlan = p match {
      case s: QueryStageExec => unstage(s.plan)
      case a: InputAdapter => unstage(a.child)
      case other => other
    }
    collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec =>
        unstage(if (j.buildSide == BuildLeft) j.left else j.right)
    }.filterNot(_.isInstanceOf[ReusedExchangeExec])
  }

  /** Records the build sides of every SQL execution that succeeds on
    * `s` from construction until [[close]].
    */
  final class Recorder(s: SparkSession) extends QueryExecutionListener {
    private val seen = new ConcurrentLinkedQueue[QueryExecution]()
    s.listenerManager.register(this)

    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      seen.add(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    /** The builds of every execution so far, once its event has
      * arrived: listener events come in order, so a marker execution
      * run now is seen after all of them (waits at most 10 s).
      */
    def builds(): Seq[SparkPlan] = {
      val marker = s.emptyDataFrame.limit(1)
      marker.collect()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.asScala.exists(_ eq marker.queryExecution) &&
          System.nanoTime() < deadline) Thread.sleep(5)
      seen.asScala.toSeq.flatMap(qe => HashedBroadcasts.builds(qe.executedPlan))
    }

    /** The builds so far; forgets them. */
    def lap(): Seq[SparkPlan] = {
      val b = builds()
      seen.clear()
      b
    }

    def close(): Unit = s.listenerManager.unregister(this)
  }
}
