package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** The one stage profiler of the drivers (Soak, tools/JobCount): a
  * listener counting jobs, completed stages, shuffle bytes written and
  * the largest single-stage write, plus the process CPU time and the
  * number of Janino compiles of generated code and the time they took
  * (driver and local executors share the process). [[lap]] returns the
  * deltas since the previous lap (or since [[Profile.attach]]), so a
  * driver brackets each stage it reports with laps instead of keeping
  * running totals; [[total]] still reports the whole run since attach.
  *
  * Listener events arrive asynchronously: `lap` first waits (at most
  * [[Profile.SettleMs]]) until every job the listener has seen start
  * has also ended, so a stage that just returned is billed to its own
  * lap rather than the next one.
  */
final class Profile private (keepStages: Boolean) extends SparkListener {
  import Profile.Lap

  private val started = new AtomicLong
  private val ended = new AtomicLong
  private val stages = new AtomicLong
  private val written = new AtomicLong
  private var peak, allPeak = 0L
  private val infos =
    new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
  private var lastJobs, lastStages, lastWritten = 0L
  private val attachedT = System.nanoTime()
  private var lastT = attachedT
  private val attachedCpu = Profile.cpuNanos()
  private var lastCpu = attachedCpu
  private val attachedCompiles = Profile.compiles()
  private var lastCompiles = attachedCompiles
  private val attachedCompileNs = Profile.compileNanos()
  private var lastCompileNs = attachedCompileNs

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.incrementAndGet()

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    ended.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    written.addAndGet(w)
    stages.incrementAndGet()
    synchronized { if (w > peak) peak = w; if (w > allPeak) allPeak = w }
    if (keepStages) infos.add(e.stageInfo)
  }

  private def settle(): Unit = {
    val deadline = System.nanoTime() + Profile.SettleMs * 1000000L
    while (ended.get < started.get && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def lap(): Lap = {
    settle()
    synchronized {
      val now = System.nanoTime()
      val (cpu, cc, cn) =
        (Profile.cpuNanos(), Profile.compiles(), Profile.compileNanos())
      val (j, st, w) = (started.get, stages.get, written.get)
      val done = Iterator.continually(infos.poll())
        .takeWhile(_ != null).toVector
      val l = Lap((now - lastT) / 1e9, j - lastJobs, st - lastStages,
        w - lastWritten, peak, done, (cpu - lastCpu) / 1e9,
        cc - lastCompiles, (cn - lastCompileNs) / 1e6)
      lastT = now; lastJobs = j; lastStages = st; lastWritten = w
      lastCpu = cpu; lastCompiles = cc; lastCompileNs = cn
      peak = 0L
      l
    }
  }

  /** Everything since [[Profile.attach]], whatever laps were taken in
    * between: its wall clock, counts, shuffle bytes, largest stage, CPU,
    * compiles and compile time.
    */
  def total(): Lap = {
    settle()
    synchronized {
      Lap((System.nanoTime() - attachedT) / 1e9, started.get, stages.get,
        written.get, allPeak, Vector.empty,
        (Profile.cpuNanos() - attachedCpu) / 1e9,
        Profile.compiles() - attachedCompiles,
        (Profile.compileNanos() - attachedCompileNs) / 1e6)
    }
  }

  /** `f` between two laps: its result and the lap that bills it. */
  def timed[A](f: => A): (A, Lap) = {
    lap()
    val a = f
    (a, lap())
  }
}

object Profile {
  /** Upper bound on how long [[Profile.lap]] waits for job-end events. */
  val SettleMs = 2000L

  /** Deltas over one lap; `stageInfos` is filled only for a profiler
    * attached with `keepStages`. `cpuS` is the CPU time of the whole
    * process (JIT, GC and every other thread included), `compiles`
    * the number of generated classes Spark compiled and `compileMs` the
    * Janino time they took, all counted process-wide, so concurrent
    * work elsewhere in the JVM is billed to the lap too.
    */
  final case class Lap(wallSec: Double, jobs: Long, stages: Long,
      shuffleBytes: Long, peakStageBytes: Long,
      stageInfos: Seq[StageInfo], cpuS: Double, compiles: Long,
      compileMs: Double) {
    def shuffleMb: Double = shuffleBytes / 1e6
    def peakStageMb: Double = peakStageBytes / 1e6
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuNanos(): Long = os.getProcessCpuTime

  /** Janino compiles so far: one histogram sample per compiled class. */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Janino compile time so far, in ns (Spark sums it per class). */
  private def compileNanos(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime

  def attach(s: SparkSession, keepStages: Boolean = false): Profile = {
    val p = new Profile(keepStages)
    s.sparkContext.addSparkListener(p)
    p
  }
}
