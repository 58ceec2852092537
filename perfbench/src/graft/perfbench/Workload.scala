package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shape every workload runs in. Untraced:
  *
  *  1. set-up, repeated `setupReps` times; `setup_s` is the session
  *     start plus their median;
  *  2. units of work, starting in the fresh JVM the way a spark-submit
  *     run starts, until both `minUnits` units ran and `seconds` passed;
  *     `cpu_s` (this JVM's CPU time, JIT, GC and code generation
  *     included) and the recorded wall time are their medians;
  *  3. the workload's final output checks.
  *
  * Traced: one set-up (`setup_s` is not on the traced line), then with
  * the listener attached one unit, starting cold like the untraced one,
  * the final checks and one probe span per layer call the unit does not
  * expose. A span in `spans` that was not recorded
  * fails the run. `trace.overhead_s` is what tracing itself spent
  * ([[Tracer.overheadS]]).
  */
abstract class Workload(val spark: SparkSession, val run: Run) {
  val ops = new Ops
  val tracer = new Tracer(spark)
  /** Per-layer counts for the traced result line and the record. */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  /** Facts for the record only, as JSON values. */
  val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  val work: String = s"${run.work}/${run.workload}"

  def setupReps: Int
  def minUnits: Int
  /** The spans a traced run of this workload must record. */
  def spans: Seq[String]
  def setup(rep: Int): Unit
  def unit(i: Int): Unit
  def finish(): Unit
  def probes(): Unit = ()

  /** Order-independent checksum of a frame's rows: the sum of 32-bit
    * row hashes, so it needs no ordering and cannot overflow.
    */
  def checksum(df: DataFrame): Long =
    df.select(sum(xxhash64(df.columns.toSeq.map(col): _*)
      .bitwiseAND(0xffffffffL))).head.getLong(0)

  def rnd(salt: Long): java.util.Random =
    new java.util.Random(run.seed * 1000003L + salt)

  def execute(sessionS: Double): Outcome = {
    new java.io.File(work).mkdirs()
    val weather = mutable.ArrayBuffer(Weather.probe(work))
    val reps = if (run.traced) 1 else setupReps
    val setupWalls = (0 until reps).map { r =>
      val t = System.nanoTime(); setup(r); (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + Fmt.median(setupWalls)

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    def timedUnit(i: Int): Option[Double] = {
      val c = os.getProcessCpuTime
      val w = ops.timed(s"unit $i")(unit(i))
      w.foreach { s => walls += s; cpus += (os.getProcessCpuTime - c) / 1e9 }
      w
    }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (run.traced) {
      tracer.attach()
      tracer.span("unit")(timedUnit(0))
    } else {
      var i = 0
      while (i < minUnits || elapsed < run.seconds) {
        timedUnit(i)
        i += 1
        if (weather.size == 1 && elapsed >= run.seconds / 2)
          weather += Weather.probe(work)
      }
    }
    val measureS = elapsed
    finish()
    if (run.traced) probes()
    weather += Weather.probe(work)
    val spanStats = tracer.results()
    if (run.traced) {
      counts("store.bytes_written_mb") = spanStats.collect {
        case (n, calls, st) if n.startsWith("store.") => st.writtenMb * calls
      }.sum
      val seen = spanStats.map(_._1).toSet
      spans.foreach(n => ops.check(s"span $n recorded")(seen(n)))
      // how much of the unit's process CPU is executor work in Spark
      // stages; the rest is JIT, GC, planning and code generation
      spanStats.find(_._1 == "unit").foreach { case (_, _, st) =>
        info("unit_executor_cpu_s") = Fmt.num(st.cpuS)
        info("unit_executor_share") = Fmt.num(st.cpuS / Fmt.median(cpus.toSeq))
      }
    }
    val overheadS = tracer.overheadS

    // wall time moves with the load other tenants put on the machine
    // (measured: 2x within an hour on 4 shared cores); the process's
    // CPU time moves far less, so it is the gated figure and wall time
    // goes to the record
    val e2e = Seq("cpu_s" -> Fmt.median(cpus.toSeq), "setup_s" -> setupS,
      "peak_rss_mb" -> Workload.peakRssMb())
    val metrics =
      if (run.traced) PerLayer.line(spanStats, counts, overheadS)
      else e2e.map { case (k, v) =>
        k -> Fmt.metric(v, if (k == "peak_rss_mb") "MB" else "s")
      }
    val head = Seq("correct" -> (ops.failed == 0).toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString)
    val line = Fmt.obj(head :+ ("metrics" -> Fmt.obj(metrics)))

    val spanRec = spanStats.map { case (n, calls, s) =>
      n -> Fmt.obj(Seq("calls" -> calls.toString,
        "wall_s" -> Fmt.num(s.wallS), "jobs" -> Fmt.num(s.jobs),
        "cpu_s" -> Fmt.num(s.cpuS), "shuffle_mb" -> Fmt.num(s.shuffleMb),
        "written_mb" -> Fmt.num(s.writtenMb), "floor_s" -> Fmt.num(s.floorS)))
    }
    val record = Fmt.obj(Seq(
      "workload" -> Fmt.str(run.workload), "seed" -> run.seed.toString,
      "traced" -> run.traced.toString,
      "cores" -> Runtime.getRuntime.availableProcessors().toString,
      "session_s" -> Fmt.num(sessionS),
      "setup_walls_s" -> setupWalls.map(Fmt.num).mkString("[", ",", "]"),
      "unit_walls_s" -> walls.map(Fmt.num).mkString("[", ",", "]"),
      "unit_cpu_s" -> cpus.map(Fmt.num).mkString("[", ",", "]"),
      "measure_s" -> Fmt.num(measureS),
      "wall_s" -> Fmt.num(Fmt.median(walls.toSeq)),
      "end_to_end" -> Fmt.obj(e2e.map { case (k, v) => k -> Fmt.num(v) }),
      "error_rate" -> Fmt.num(ops.failed.toDouble / math.max(1, ops.attempted)),
      "failures" -> ops.failures.map(Fmt.str).mkString("[", ",", "]"),
      "weather_cpu_ms" -> weather.map(w => Fmt.num(w._1)).mkString("[", ",", "]"),
      "weather_disk_ms" -> weather.map(w => Fmt.num(w._2)).mkString("[", ",", "]"),
      "counts" -> Fmt.obj(counts.toSeq.map { case (k, v) => k -> Fmt.num(v) }),
      "trace_overhead_s" -> (if (run.traced) Fmt.num(overheadS) else "null"),
      "spans" -> Fmt.obj(spanRec),
      "span_log" -> tracer.all.map(sp => Fmt.obj(Seq("name" -> Fmt.str(sp.name),
        "parent" -> Fmt.str(sp.parent), "start_ms" -> sp.startMs.toString,
        "end_ms" -> sp.endMs.toString, "wall_s" -> Fmt.num(sp.wallS))))
        .mkString("[", ",", "]")) ++ info.toSeq)
    Outcome(line, record)
  }
}

object Workload {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** The per-layer metrics of the traced result line. Spans and counts
  * of layers a workload does not run read 0; the ones it runs are
  * checked to be present (`Workload.spans`). The record file keeps
  * every span's wall, jobs, CPU, shuffle and floor.
  */
object PerLayer {
  val spanWalls: Seq[String] = Seq(
    "blocker.pairs", "matching.score", "xref.run", "resolver.components",
    "store.apply", "store.assemble",
    "streaming.batch", "store.merge", "blocker.index_fold", "xref.delta",
    "resolver.decide", "store.apply_delta", "store.maintain",
    "dedup.exact", "textanalysis.quality", "textanalysis.lm", "dedup.near",
    "textanalysis.pack")

  val countNames: Seq[String] = Seq(
    "blocker.candidate_pairs", "matching.useful_ratio", "xref.merges",
    "xref.suggestions", "resolver.changed_members",
    "store.live_deltas_max", "dedup.lsh_candidates", "dedup.useful_ratio")

  def line(spans: Seq[(String, Int, SpanStats)],
      counts: collection.Map[String, Double],
      overheadS: Double): Seq[(String, String)] = {
    val by = spans.map(s => s._1 -> s._3).toMap
    val batch = by.get("streaming.batch")
    spanWalls.map(n => s"$n.wall_s" ->
        Fmt.metric(by.get(n).map(_.wallS).getOrElse(0.0), "s")) ++
      Seq(
        "streaming.batch.jobs" ->
          Fmt.metric(batch.map(_.jobs).getOrElse(0.0), "count"),
        "streaming.batch.floor_s" ->
          Fmt.metric(batch.map(_.floorS).getOrElse(0.0), "s")) ++
      countNames.map(n => n -> Fmt.metric(counts.getOrElse(n, 0.0),
        if (n.endsWith("ratio")) "ratio" else "count")) :+
      ("trace.overhead_s" -> Fmt.metric(overheadS, "s"))
  }
}
