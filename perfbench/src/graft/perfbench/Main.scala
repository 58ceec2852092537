package graft.perfbench

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** End-to-end benchmark of the engine's three full paths:
  *
  *  - `xref_batch`     Xref.run → canonical map → applyCanonical →
  *                     assemble over a star corpus with planted copies
  *  - `loop_increment` LoopStream.init, then micro-batches through
  *                     LoopStream.processBatch, checked against one
  *                     from-scratch batch run
  *  - `curate_corpus`  CurateMain.run over documents with planted
  *                     exact and near copies
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --record FILE [--expected FILE]
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the
  * per-layer metrics traced). The full record, including the weather
  * probe and every span, goes to `--record`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val cfg = Run(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("data"),
      need("work"))
    a.get("expected").foreach(Expected.load)
    val t0 = System.nanoTime()
    val spark = session(cfg.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = try {
      val w: Workload = cfg.workload match {
        case "xref_batch" => new XrefBatch(spark, cfg)
        case "loop_increment" => new LoopIncrement(spark, cfg)
        case "curate_corpus" => new CurateCorpus(spark, cfg)
        case other => sys.error(s"unknown workload $other")
      }
      w.execute(sessionS)
    } finally spark.stop()
    Record.write(need("record"), out)
    println(out.line)
  }

  /** The one session configuration every workload runs under: all
    * cores of this machine in one local-mode JVM, one shuffle
    * partition per core, scratch space inside the work directory.
    */
  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().appName("perfbench")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "65536")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Parsed command line. */
final case class Run(workload: String, seed: Long, seconds: Double,
    traced: Boolean, data: String, work: String)

/** Counts operations (pipeline runs, micro-batches, output checks) and
  * the ones that failed.
  */
final class Ops {
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val failure = try { if (ok) None else Some(name) }
    catch { case e: Exception => Some(s"$name: $e") }
    failure.foreach { f => failed += 1; failures += f }
  }

  /** Run one timed operation; a throw counts as a failure. */
  def timed(name: String)(f: => Unit): Option[Double] = {
    attempted += 1
    val t = System.nanoTime()
    try { f; Some((System.nanoTime() - t) / 1e9) }
    catch {
      case e: Exception =>
        failed += 1; failures += s"$name: $e"; None
    }
  }
}

/** A fixed CPU and disk probe, run at the start, middle and end of a
  * run so the record shows how the machine itself moved during it.
  */
object Weather {
  private val buf = Array.tabulate[Byte](8 << 20)(i => (i * 31).toByte)

  def probe(dir: String): (Double, Double) = {
    val t = System.nanoTime()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until 4).foreach(_ => md.update(buf))
    md.digest()
    val cpuMs = (System.nanoTime() - t) / 1e6
    val f = new java.io.File(dir, "weather.bin")
    val t2 = System.nanoTime()
    val os = new java.io.FileOutputStream(f)
    try { os.write(buf); os.getFD.sync() } finally os.close()
    val is = new java.io.FileInputStream(f)
    try { while (is.read(buf, 0, 1 << 20) > 0) () } finally is.close()
    f.delete()
    (cpuMs, (System.nanoTime() - t2) / 1e6)
  }
}

/** One run's outcome: the result line and the record file's body. */
final case class Outcome(line: String, record: String)

object Fmt {
  /** JSON has no NaN: a value that could not be measured is null. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else String.format(Locale.ROOT, "%.6f", x)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A metric value: counts print whole, everything else at 6 places. */
  def metric(v: Double, unit: String): String =
    obj(Seq("value" -> (if (unit == "count") f"${math.round(v)}%d" else num(v)),
      "unit" -> str(unit)))

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Record {
  def write(path: String, o: Outcome): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, o.record.getBytes("UTF-8")): Unit
  }
}

/** Output checksums recorded per seed (`expected.tsv`: workload, seed,
  * checksum). A seed with no recorded line passes; a recorded one must
  * match exactly.
  */
object Expected {
  private var table = Map.empty[(String, Long), Long]

  def load(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try table = src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).collect {
          case Array(w, seed, sum) => (w, seed.toLong) -> sum.toLong
        }.toMap
      finally src.close()
    }
  }

  def matches(run: Run, workload: String, sum: Long): Boolean =
    table.get((workload, run.seed)).forall(_ == sum)
}
