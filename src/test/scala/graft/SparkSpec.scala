package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for the test suite. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bound plan-explain allocations (a pathological plan otherwise
      // OOMs the driver building a multi-hundred-MB debug string)
      .config("spark.sql.maxPlanStringLength", "65536")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A new `<prefix>-<uuid>` directory under `java.io.tmpdir`, deleted
    * when the test JVM exits. Every spec takes its scratch dirs here.
    */
  def tempDir(prefix: String): String =
    org.apache.spark.SchedulerProbe.tempDir(prefix).toString

  /** Tables registered in the session's `CacheManager`
    * (`numCachedEntries` is Spark-private to Scala callers, public in
    * bytecode).
    */
  def cachedEntries: Int = {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cache.getClass.getMethod("numCachedEntries").invoke(cache)
      .asInstanceOf[Int]
  }

  /** Listeners on the session's bus (`listenerBus` is Spark-private to
    * Scala callers, public in bytecode).
    */
  def listeners: Seq[String] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.map(_.getClass.getName)
      .toSeq
  }
}
