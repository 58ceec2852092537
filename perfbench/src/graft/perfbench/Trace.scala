package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One recorded span: wall-clock bounds in epoch ms (Spark's listener
  * clock) for attribution, and a nanosecond wall for the reported time.
  */
final case class Span(name: String, parent: String, startMs: Long,
    endMs: Long, wallS: Double)

/** What the listener saw inside one span. `floorS` is the span's wall
  * minus the time any of its stages was running: planning, scheduling
  * and file listing that no executor work overlaps.
  */
final case class SpanStats(wallS: Double, jobs: Double, cpuS: Double,
    shuffleMb: Double, writtenMb: Double, floorS: Double)

/** Records job starts and completed stages, and the time it spends
  * doing so. Attached only in traced runs, so untraced runs measure the
  * program without it.
  */
final class StageRecorder extends SparkListener {
  final case class Stage(submitMs: Long, doneMs: Long, cpuNs: Long,
      shuffleBytes: Long, writtenBytes: Long)

  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val busyNs = new java.util.concurrent.atomic.AtomicLong()

  /** Seconds spent handling events so far. */
  def busyS: Double = busyNs.get / 1e9

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    f
    busyNs.addAndGet(System.nanoTime() - t): Unit
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    timed(jobStarts.add(e.time): Unit)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed {
      val i = e.stageInfo
      val tm = i.taskMetrics
      val done = i.completionTime.getOrElse(System.currentTimeMillis())
      stages.add(Stage(i.submissionTime.getOrElse(done), done,
        tm.executorCpuTime,
        tm.shuffleReadMetrics.totalBytesRead +
          tm.shuffleWriteMetrics.bytesWritten,
        tm.outputMetrics.bytesWritten)): Unit
    }

  /** Jobs started and stages completed within [startMs, endMs). */
  def stats(sp: Span): SpanStats = {
    val in = (t: Long) => t >= sp.startMs && t < sp.endMs
    val st = stages.asScala.filter(s => in(s.doneMs)).toSeq
    // busy time = union of the stages' running intervals, clipped
    val iv = st.map(s => (math.max(s.submitMs, sp.startMs),
      math.min(s.doneMs, sp.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var busyMs = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) {
        busyMs += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    busyMs += curE - curS
    SpanStats(sp.wallS, jobStarts.asScala.count(t => in(t)),
      st.map(_.cpuNs).sum / 1e9, st.map(_.shuffleBytes).sum / 1e6,
      st.map(_.writtenBytes).sum / 1e6,
      math.max(0.0, sp.wallS - busyMs / 1e3))
  }
}

/** Span recorder for the benchmark's calls into the engine. Spans time
  * from the start, but Spark counts exist only once [[attach]] has
  * added the listener: untraced runs never carry one.
  */
final class Tracer(spark: SparkSession) {
  private var recorder: Option[StageRecorder] = None
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil

  /** What tracing cost: the listener's event handling. It runs on
    * Spark's event-bus thread, so this bounds what tracing adds to a
    * span's wall time from above; a span's own bookkeeping is a few
    * clock reads.
    */
  def overheadS: Double = recorder.map(_.busyS).getOrElse(0.0)

  /** Start listening; spans recorded before this are dropped. */
  def attach(): Unit = {
    val r = new StageRecorder
    spark.sparkContext.addSparkListener(r)
    recorder = Some(r)
    spans.clear()
  }

  def span[A](name: String)(f: => A): A = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val ms = System.currentTimeMillis()
    val t = System.nanoTime()
    try f
    finally {
      stack = stack.tail
      spans += Span(name, parent, ms, System.currentTimeMillis() + 1,
        (System.nanoTime() - t) / 1e9)
    }
  }

  /** Record a span that ended now and lasted `wallS` (a stage boundary
    * reported by the engine's own hook).
    */
  def closed(name: String, wallS: Double): Unit = {
    val end = System.currentTimeMillis() + 1
    spans += Span(name, stack.headOption.getOrElse(""),
      end - math.round(wallS * 1000) - 1, end, wallS)
  }

  /** Per-name mean over the spans recorded under that name (a loop
    * stage recurs once per micro-batch), with the number of calls.
    */
  def results(): Seq[(String, Int, SpanStats)] = recorder match {
    case None => Seq.empty
    case Some(r) =>
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spans.toSeq.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
        val st = ss.map(r.stats)
        val k = st.size.toDouble
        (n, st.size, SpanStats(st.map(_.wallS).sum / k,
          st.map(_.jobs).sum / k, st.map(_.cpuS).sum / k,
          st.map(_.shuffleMb).sum / k, st.map(_.writtenMb).sum / k,
          st.map(_.floorS).sum / k))
      }
  }

  def all: Seq[Span] = spans.toSeq
}
