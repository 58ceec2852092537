package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.CliArgs
import graft.store.MergeLake
import graft.streaming.LoopStream
import graft.xref.Xref

/** The composed incremental loop on a star corpus: day 0 landed by
  * LoopStream.init, then micro-batches — each a small seeded Δ of new
  * copies, one fresh entity and re-asserted statements — through
  * LoopStream.processBatch, the body the streaming sink runs. Stage
  * spans come from LoopStream.stageHook, so the measured code is the
  * engine's own. [[finish]] runs one from-scratch batch run over the
  * final corpus; the canonical lake the increments maintained must equal
  * its output row for row.
  */
final class Loop(w: Workload, day0Path: String, root: String) {
  import w.spark.implicits._
  private val spark = w.spark

  val maintainEvery = 2
  // the blocker cut must never bind, or the increments and the
  // from-scratch run diverge at the rank margin
  val cfg: Xref.Config =
    Xref.Config(autoThreshold = Some(XrefBatch.Auto), limit = 400000)
  private lazy val day0 = spark.read.parquet(day0Path)
  private lazy val base = day0.filter(col("dataset") === "base")
    .select(col("canonical_id"), col("schema"), col("value"))
    .orderBy(col("canonical_id")).as[(String, String, String)].collect()
    .toSeq.map { case (i, s, v) => Inputs.Ent(i, s, v) }
  private val paths = LoopStream.Paths(root)
  private var k = 0

  def init(): Unit = {
    LoopStream.init(spark, day0, paths, cfg)
    spark.catalog.clearCache()
  }

  /** Micro-batch `k`: planted copies of up to 12 random base entities,
    * one fresh entity, and 8 re-asserted day-0 statements.
    */
  private def delta(k: Int): DataFrame = {
    val r = w.rnd(100 + k)
    val pick = (0 until 12).map(_ => base(r.nextInt(base.size)))
      .filter(!_.id.startsWith("p:")).distinct
    val (ents, _) = Inputs.plant(pick, r, 0.5, 0.5, 0.0, s"-b$k")
    val again = day0.filter(pmod(xxhash64(col("id"), lit(w.run.seed + k)),
        lit(math.max(1L, base.size / 8L))) === 0)
      .orderBy(col("id")).limit(8)
      .withColumn("last_seen", lit(s"d${k + 1}"))
    Inputs.statements(spark, ents, s"batch$k", s"d${k + 1}")
      .unionByName(again).localCheckpoint(true)
  }

  private val stageSpan = Map("merge" -> "store.merge",
    "index" -> "blocker.index_fold", "xref" -> "xref.delta",
    "decide" -> "resolver.decide", "apply" -> "store.apply_delta",
    "maintain" -> "store.maintain")

  /** One micro-batch. With `count` set, the lakes' live delta count
    * and the batch's edges and relabelled members are read afterwards,
    * outside the batch's time, as `store.live_deltas_max`,
    * `loop.merges` and `loop.changed_members`.
    */
  def batch(count: Boolean): Unit = {
    val b = delta(k)
    val gen = s"b$k"
    LoopStream.stageHook = (st, s) => w.tracer.closed(stageSpan(st), s)
    try w.tracer.span("streaming.batch") {
      LoopStream.processBatch(spark, b, gen, paths, cfg, maintainEvery)
    } finally LoopStream.stageHook = (_, _) => ()
    k += 1
    if (count) {
      def add(n: String, v: Double) = w.counts(n) = w.counts.getOrElse(n, 0.0) + v
      val live = Seq(paths.lake, paths.canonical, paths.state, paths.edges)
        .map(MergeLake.deltaCount(spark, _)).max
      w.counts("store.live_deltas_max") =
        math.max(w.counts.getOrElse("store.live_deltas_max", 0.0), live)
      add("loop.changed_members", MergeLake.snapshot(spark, paths.state)
        .filter(col("last_seen") === gen).count().toDouble)
      add("loop.merges", MergeLake.snapshot(spark, paths.edges)
        .filter(col("last_seen") === gen).count().toDouble)
    }
    spark.catalog.clearCache()
  }

  def finish(): Unit = {
    val all = MergeLake.snapshot(spark, paths.lake).drop("bucket")
      .localCheckpoint(true)
    val none = Seq.empty[(String, String)].toDF("src", "dst")
    var want: DataFrame = null
    w.ops.timed("loop rerun") {
      w.tracer.span("streaming.rerun") {
        val (m, _) = Xref.run(spark, all, none, cfg)
        val cm = CliArgs.canonicalMapOf(m.filter(col("score") >
          XrefBatch.Auto).select(col("src"), col("dst")))
        want = CliArgs.applyCanonical(all, cm)
          .select(col("id"), col("canonical_id"), col("prop"), col("value"))
          .localCheckpoint(true)
      }
    }.foreach(s => w.info("loop_rerun_s") = Fmt.num(s))
    val got = MergeLake.snapshot(spark, paths.canonical)
      .select(col("id"), col("canonical_id"), col("prop"), col("value"))
    val mismatches =
      if (want == null) -1L
      else got.exceptAll(want).count() + want.exceptAll(got).count()
    w.info("loop_state_mismatches") = mismatches.toString
    w.info("loop_batches") = k.toString
    w.ops.check("loop canonical lake equals the from-scratch run")(
      mismatches == 0)
    spark.catalog.clearCache()
  }
}

/** `loop_increment`: the loop as a workload of its own — day-0 init in
  * set-up, micro-batches as units, the from-scratch check at the end.
  * One micro-batch costs more than a whole batch xref run at this scale,
  * so it needs minutes per run; the benchmark's timed workloads measure
  * the loop inside the traced `xref_batch` run instead.
  */
final class LoopIncrement(spark: SparkSession, run: Run)
    extends Workload(spark, run) {
  val setupReps = 1
  val minUnits = 3
  val spans: Seq[String] = Seq("streaming.batch", "store.merge",
    "blocker.index_fold", "xref.delta", "resolver.decide",
    "store.apply_delta", "store.maintain", "streaming.rerun")
  private var loop: Loop = _

  def setup(rep: Int): Unit = {
    XrefBatch.writeInput(this, s"$work/day0")
    loop = new Loop(this, s"$work/day0", s"$work/loop")
    loop.init()
  }

  def unit(i: Int): Unit = loop.batch(count = true)

  def finish(): Unit = loop.finish()
}
