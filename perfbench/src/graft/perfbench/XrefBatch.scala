package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocker.{Blocker, EntityTokenizer}
import graft.cli.CliArgs
import graft.matching.EntityMatch
import graft.store.EntityStore
import graft.xref.Xref

/** `xref_batch`: the star corpus plus one seeded replica of planted
  * exact copies, near copies and fresh entities, through the batch path
  * a user runs — Xref.run, the canonical map of its merges,
  * applyCanonical, and assembly of the merged entities. Blocking and
  * scoring are the largest spans; resolve and apply are a remainder.
  */
final class XrefBatch(spark: SparkSession, run: Run)
    extends Workload(spark, run) {
  import spark.implicits._

  val setupReps = 3
  val minUnits = 1
  val spans: Seq[String] = Seq("xref.run", "resolver.components",
    "store.apply", "store.assemble", "streaming.init", "streaming.batch",
    "store.merge", "blocker.index_fold", "xref.delta", "resolver.decide",
    "store.apply_delta", "store.maintain", "blocker.pairs",
    "matching.score")
  val cfg: Xref.Config = Xref.Config(autoThreshold = Some(XrefBatch.Auto))
  private val input = s"$work/input"
  private var plant: Inputs.Plant = _

  def setup(rep: Int): Unit = plant = XrefBatch.writeInput(this, input)

  /** Traced runs also drive the incremental loop over the same corpus. */
  private lazy val loop = new Loop(this, input, s"$work/loop")

  def unit(i: Int): Unit = pass()

  private def none: DataFrame = Seq.empty[(String, String)].toDF("src", "dst")

  /** One full batch run, forced at each layer boundary. */
  private def pass(): Unit = {
    val stmts = spark.read.parquet(input)
    val (merges, nMerges, nSuggest) = tracer.span("xref.run") {
      val (m, sg) = Xref.run(spark, stmts, none, cfg)
      (m, m.count(), sg.count())
    }
    val cm = tracer.span("resolver.components") {
      CliArgs.canonicalMapOf(merges).localCheckpoint(true)
    }
    tracer.span("store.apply") {
      CliArgs.applyCanonical(stmts, cm)
        .write.mode("overwrite").parquet(s"$work/canonical")
    }
    val sum = tracer.span("store.assemble") {
      val ents = EntityStore.assemble(spark.read.parquet(s"$work/canonical"))
      checksum(ents.select(col("id"), col("schema"),
        to_json(col("properties")).as("p"), col("datasets"),
        col("referents"), col("caption")))
    }
    verify(cm, nMerges, nSuggest, sum)
    spark.catalog.clearCache()
  }

  private def verify(cm: DataFrame, nMerges: Long, nSuggest: Long,
      sum: Long): Unit = {
    counts("xref.merges") = nMerges.toDouble
    counts("xref.suggestions") = nSuggest.toDouble
    val canon = cm.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    counts("resolver.clusters") = canon.values.toSet.size.toDouble
    counts("resolver.changed_members") =
      canon.count { case (m, c) => m != c }.toDouble
    ops.check("merge band non-empty")(nMerges > 0)
    ops.check("suggestion band non-empty")(nSuggest > 0)
    ops.check("every planted exact copy merged")(plant.exact.forall {
      case (cp, orig) => canon.get(cp).exists(c => canon.get(orig).contains(c))
    })
    ops.check("no fresh entity merged")(plant.fresh.forall(f =>
      !canon.contains(f)))
    ops.check("checksum matches the recorded one")(
      Expected.matches(run, "xref_batch", sum))
    info("checksum") = sum.toString
  }

  def finish(): Unit = ()

  /** The loop's day-0 init and one micro-batch, then blocking and
    * scoring on their own with the pipeline's settings. The loop's
    * from-scratch check does not fit the run's time limit here;
    * `loop_increment` runs it.
    */
  override def probes(): Unit = {
    tracer.span("streaming.init")(loop.init())
    loop.batch(count = true)
    val stmts = EntityStore.view(spark.read.parquet(input),
      withExternal = cfg.external)
    val compat = Xref.compatDf(spark)
    val pairs = tracer.span("blocker.pairs") {
      val tf = Blocker.termFrequencies(EntityTokenizer.entries(stmts),
        compat, Xref.boostsDf(spark), cfg.blocker,
        dampFields = EntityTokenizer.DampFields)
      Blocker.pairs(tf, compat,
        cfg.blocker.copy(maxPairs = cfg.limit * cfg.limitFactor))
        .localCheckpoint(true)
    }
    counts("blocker.candidate_pairs") = pairs.count().toDouble
    val algo = cfg.algorithm.replace("-", "_")
    val scored = tracer.span("matching.score") {
      val views = EntityMatch.views(EntityStore.assemble(stmts), stmts)
      EntityMatch.scorePairs(pairs, views, Seq(cfg.algorithm))
        .select(col(algo).as("score")).localCheckpoint(true)
    }
    val r = scored.agg(count(lit(1)), count(when(col("score") >=
      XrefBatch.UsefulFloor, 1))).head
    counts("matching.pairs_scored") = r.getLong(0).toDouble
    counts("matching.useful_ratio") =
      r.getLong(1).toDouble / math.max(1L, r.getLong(0))
    spark.catalog.clearCache()
  }
}

object XrefBatch {
  /** Write the star corpus plus one seeded replica to `path` as a
    * statement table; returns what was planted.
    */
  def writeInput(w: Workload, path: String): Inputs.Plant = {
    val base = Inputs.starBase(w.spark, w.run.data, Sf)
    val (replica, p) = Inputs.plant(base, w.rnd(1), 0.3, 0.3, 0.05, "-r")
    Inputs.statements(w.spark, base, "base", "d0")
      .unionByName(Inputs.statements(w.spark, replica, "replica", "d0"))
      .write.mode("overwrite").parquet(path)
    w.info("planted") = Fmt.obj(Seq("base" -> base.size.toString,
      "exact" -> p.exact.size.toString, "near" -> p.near.size.toString,
      "fresh" -> p.fresh.size.toString) ++
      p.nearKinds.toSeq.sorted.map { case (k, n) => s"near_$k" -> n.toString })
    p
  }

  /** Auto-merge threshold: planted exact copies score above it, most
    * near copies fall into the suggestion band below it.
    */
  val Auto = 0.7

  /** Scale factor of the star corpus: 360 base entities. */
  val Sf = 0.001

  /** Score from which a scored pair counts as useful in
    * `matching.useful_ratio`. The engine's own suggestion floor
    * (`minThreshold`, 0.01) passes every pair the blocker emits here.
    */
  val UsefulFloor = 0.5
}
