package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.cli.CliArgs
import graft.store.{EntityStore, MergeLake}
import graft.xref.Xref

/** The streaming composed loop (MERGE → index fold → delta xref →
  * incremental decide → Δ-apply, one foreachBatch per micro-batch)
  * must leave EXACTLY the canonical statement table one from-scratch
  * batch run produces over the final corpus — the end-state oracle
  * Soak `loopstream` runs at N× replicas, asserted on the
  * incrementally-maintained canonical LAKE itself (the strongest
  * surface: it catches a missed rewrite of a cross-cluster entity
  * reference, which a recomputed-at-the-end comparison would not).
  */
/** Top-level so Spark can synthesize its Encoder (an inner case class
  * has no static outer scope).
  */
case class LoopStreamSpecStmt(stmt_id: String, id: String,
    entity_id: String, canonical_id: String, prop: String,
    prop_type: String, schema: String, value: String,
    original_value: String, dataset: String, origin: String,
    lang: String, external: Boolean, first_seen: String,
    last_seen: String)

class LoopStreamSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private type Stmt = LoopStreamSpecStmt

  test("streamed increments leave the batch run's canonical table") {
    val fixture = ReferenceFiles("tests/fixtures/donations.ijson")
    val all = EntityStore.statements(
        EntityStore.readIjson(spark, fixture), "donations")
      .withColumn("stmt_id", col("id"))
      .withColumn("last_seen", lit("d0"))
    val isDelta = pmod(xxhash64(col("canonical_id")), lit(8)) === 0
    val day0 = all.filter(!isDelta)
    val delta = all.filter(isDelta)
    def half(k: Int) = delta
      .filter(pmod(xxhash64(col("canonical_id")), lit(2)) === k)
      .withColumn("last_seen", lit(s"d${k + 1}"))
      .as[Stmt].collect().toSeq

    val root = SparkSpec.tempDir("loopstream")
    val p = LoopStream.Paths(root)
    // the blocker cut must never bind or stream/batch diverge at the
    // rank margin (Soak `loopstream` uses the same limit)
    val cfg = Xref.Config(autoThreshold = Some(0.4), limit = 400000)
    LoopStream.init(spark, day0, p, cfg)

    implicit val sc = spark.sqlContext
    val src = MemoryStream[Stmt]
    // maintainEvery = 1: every micro-batch triggers a mid-stream
    // compaction of every lake the loop appends to (statement,
    // canonical, state, edges, ref-index postings) — the bit-equality
    // oracle below then also proves compaction preserves the resolve
    // in the continuous regime, and the dir-count assertions prove the
    // loop's on-disk footprint stays bounded
    val q = LoopStream.sink(src.toDF(), p, cfg, maintainEvery = 1).start()
    try {
      src.addData(half(0): _*)
      q.processAllAvailable()
      src.addData(half(1): _*)
      q.processAllAvailable()
    } finally q.stop()

    // bounded footprint: after compaction every lake is back to zero
    // live deltas (so snapshot reads are one bare scan) — the r12
    // shape grew one delta dir per lake per batch forever
    for (lake <- Seq(p.lake, p.canonical, p.state, p.edges))
      assert(MergeLake.deltaCount(spark, lake) === 0,
        s"$lake not compacted")

    // upsert-key uniqueness on the canonical lake: its bucket column
    // is the upsert key itself, so a later batch flipping a cluster's
    // elected canonical rewrites the same stmt_id in place — bucketing
    // by the (mutable) canonical_id let superseded rows survive in
    // their old bucket (r12 ADVICE)
    val dup = MergeLake.snapshot(spark, p.canonical)
      .groupBy(col("stmt_id")).count().filter(col("count") > 1).count()
    assert(dup === 0, s"$dup duplicate stmt_ids in the canonical lake")

    // at-least-once replay: foreachBatch may re-run a whole committed
    // batch — re-apply the LAST micro-batch verbatim (same gen b1) and
    // require the canonical lake unchanged (the index fold skips its
    // committed generation, the duplicate lake append resolves LWW to
    // identical content, the decide finds its edges intra-cluster, and
    // the re-applied write set re-elects the same canonicals)
    val before = MergeLake.snapshot(spark, p.canonical)
      .select(col("id"), col("canonical_id"), col("prop"), col("value"))
      .collect().map(_.toString).sorted.toSeq
    LoopStream.processBatch(spark, half(1).toDF(), "b1", p, cfg)
    val after = MergeLake.snapshot(spark, p.canonical)
      .select(col("id"), col("canonical_id"), col("prop"), col("value"))
      .collect().map(_.toString).sorted.toSeq
    assert(after === before, "replaying a committed batch changed state")

    // from-scratch batch run over the final corpus
    val none = Seq.empty[(String, String)].toDF("src", "dst")
    val (m, _) = Xref.run(spark, all, none, cfg)
    val cm = CliArgs.canonicalMapOf(
      m.filter(col("score") > 0.4).select(col("src"), col("dst")))
    val want = CliArgs.applyCanonical(all, cm)
      .select(col("id"), col("canonical_id"), col("prop"), col("value"))
    val got = MergeLake.snapshot(spark, p.canonical)
      .select(col("id"), col("canonical_id"), col("prop"), col("value"))
    val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert(diff === 0,
      s"streamed canonical lake diverges from the batch run ($diff rows)")
  }
}
