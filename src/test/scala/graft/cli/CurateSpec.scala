package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dedup.DedupQueries
import graft.textanalysis.{Curation, LmReference, TextAnalysis}

/** The corpus-curation pipeline driven through `nk curate`: stage
  * counts are monotone, the output corpus matches the report, survivors
  * are deterministic, and re-running reproduces the report exactly.
  * [[CurateSpec.reference]] keeps the join-per-stage form of the
  * pipeline the one-frame run must reproduce.
  */
class CurateSpec extends AnyFunSuite {
  import SparkSpec.spark

  private val docsPath = "/root/testdata/sf0.001/documents.parquet"

  test("curate main: gated, deduped, sharded corpus with exact report") {
    val out = SparkSpec.tempDir("curate") + "/o"
    Nk.run(spark, Array("curate", docsPath, out))
    val report = Files.readString(Paths.get(s"$out/report.json"))
    val corpus = spark.read.parquet(s"$out/corpus")
    val counts = "\\d+".r.findAllIn(report).map(_.toLong).toSeq
    val Seq(input, exact, unscoreable, qual, lm, near, _, windows) = counts
    assert(input >= exact && exact >= qual && qual >= lm && lm >= near,
      s"stage counts must be monotone: $report")
    // unscoreable docs are a subset of what the quality stage dropped
    assert(unscoreable <= exact - qual, s"unscoreable bound: $report")
    assert(windows > 0, s"packing produced no windows: $report")
    assert(near === corpus.count(), "corpus size matches the report")
    assert(near > 0, "pipeline kept something")
    // output schema carries the gating evidence + shard
    val cols = corpus.columns.toSet
    assert(Set("doc_id", "text", "quality", "avg_logp", "shard",
      "n_tokens", "start_tok", "first_window", "window_offset",
      "n_windows").subsetOf(cols), s"missing columns in $cols")
    assert(corpus.select(col("shard")).distinct().count() > 1)
    // deterministic: a second run reproduces the report byte-for-byte
    val out2 = SparkSpec.tempDir("curate2") + "/o"
    Nk.run(spark, Array("curate", docsPath, out2))
    assert(Files.readString(Paths.get(s"$out2/report.json")) === report)
  }

  /** Generated documents: each base text, an exact copy of every third
    * one and a one-word-changed near copy of every fourth, plus null,
    * empty, punctuation-only and non-ASCII case-fold texts (`İ`, the
    * Kelvin sign, `ß` — the tokenizer blanks every non-ASCII char).
    */
  private def planted(base: Seq[String], from: Long): DataFrame = {
    import spark.implicits._
    val exact = base.zipWithIndex.collect { case (t, i) if i % 3 == 0 => t }
    val near = base.zipWithIndex.collect {
      case (t, i) if i % 4 == 0 =>
        t.split(" ").updated(1, "zebra").mkString(" ")
    }
    val odd = Seq(null, "", "?!... ,;",
      "\u0130stanbul \u212Aelvin stra\u00DFe " +
      "caf\u00E9 the data query row", "ISTANBUL KELVIN STRASSE the data")
    (base ++ exact ++ near ++ odd).zipWithIndex
      .map { case (t, i) => (from + i, t, "en", s"src${i % 3}") }
      .toDF("doc_id", "text", "lang", "source")
  }

  private def rowsOf(df: DataFrame): Set[Row] = df.collect().toSet

  test("one-frame run equals the join-per-stage reference") {
    val sf = spark.read.parquet(docsPath)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val base = sf.orderBy(col("doc_id")).limit(60).collect()
      .map(_.getString(1)).toSeq
    val docs = sf.unionByName(planted(base, 10000L))
    def same(minQ: Double, minLogp: Double)
        : (CurateMain.Report, Array[Row]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val (curated, report) = CurateMain.run(spark, docs, minQ, minLogp)
      val (want, wantReport) = CurateSpec.reference(docs, minQ, minLogp)
      assert(report === wantReport, s"min quality $minQ, min logp $minLogp")
      assert(curated.columns.toSeq === want.columns.toSeq)
      assert(rowsOf(curated) === rowsOf(want))
      val scores = curated.select(col("quality"), col("avg_logp")).collect()
      (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
        .foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
      (report, scores)
    }
    // the default gates, then gates at the 30th percentile of the kept
    // scores: both gates then drop documents, ties at the floor included
    val (report, kept) = same(0.3, -12.0)
    // the null text is no exact survivor; the empty and punctuation-only
    // texts survive it and have nothing to score
    assert(report.afterExact === docs.filter(col("text").isNotNull)
      .select(col("text")).distinct().count())
    assert(report.unscoreable === 2L)
    assert(report.afterNearDup < report.afterLm)
    def p30(i: Int) =
      kept.map(_.getDouble(i)).sorted.apply(kept.length * 3 / 10)
    val (gated, _) = same(p30(0), p30(1))
    assert(gated.afterQuality < gated.afterExact - gated.unscoreable &&
      gated.afterLm < gated.afterQuality, gated.json)
  }

  test("run leaves only its curated frame persisted, run after run") {
    val sc = spark.sparkContext
    val base = Seq("the quick data query row window merge join",
      "a slow batch stream of customer lines and values",
      "sort the table by key then scan the merge order",
      "filter group hash join small part window the row")
    val docs = planted(base, 0L)
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val added = (1 to 3).map { _ =>
      val start = persisted
      val (curated, report) = CurateMain.run(spark, docs, 0.3, -12.0)
      assert(report.afterNearDup > 0 && curated.count() === report.afterNearDup)
      val own = curated.queryExecution.logical
        .collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert(persisted -- start === own)
      own
    }
    assert(added.forall(_.size == 1))
    added.flatten.foreach(id => sc.getPersistentRDDs(id).unpersist())
  }
}

object CurateSpec {
  /** The curate pipeline as a join per stage: exact dedup by a
    * content-hash semi-join, the quality, LM and pack stages each joined
    * back on `doc_id`, the LM scored by the relational form
    * ([[LmReference]]). Its intermediates stay persisted.
    */
  def reference(docs0: DataFrame, minQuality: Double, minLogp: Double)
      : (DataFrame, CurateMain.Report) = {
    val docs = docs0.select(col("doc_id"), col("text"), col("lang"),
      col("source")).localCheckpoint(true)
    val input = docs.count()
    val hashed = docs.withColumn("h", md5(col("text")))
    val winners = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val exact = hashed.join(winners, Seq("h", "doc_id"), "left_semi")
      .drop("h").localCheckpoint(true)
    val nExact = exact.count()
    val withQ = TextAnalysis.withWords(exact)
      .select(col("doc_id"), TextAnalysis.qualityExpr(col("w")).as("quality"))
      .localCheckpoint(true)
    val nUnscoreable = withQ.filter(col("quality").isNull).count()
    val qual = exact.join(withQ.filter(col("quality") >= minQuality),
      Seq("doc_id")).localCheckpoint(true)
    val nQual = qual.count()
    val lm = LmReference.scored(qual, new graft.Caches.Held)
      .select(col("doc_id"), col("avg_logp"))
    val lmKept = qual.join(lm.filter(col("avg_logp") >= minLogp),
      Seq("doc_id")).localCheckpoint(true)
    val nLm = lmKept.count()
    val drop = DedupQueries.clustersOf(lmKept)
      .filter(!col("keep"))
      .select(col("doc_id").cast("long").as("doc_id"))
      .localCheckpoint(true)
    val nearKept = lmKept.join(drop, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val nNear = nearKept.count()
    val packed = Curation.packOf(nearKept)
    val curated = nearKept.join(packed, Seq("doc_id"))
    val nWindows = packed
      .select((expr(s"(start_tok + n_tokens + ${Curation.PackContext - 1}) " +
        s"div ${Curation.PackContext}")).as("w"), col("shard"))
      .groupBy(col("shard")).agg(max(col("w")).as("w"))
      .agg(sum(col("w"))).head().getLong(0)
    (curated, CurateMain.Report(input, nExact, nUnscoreable, nQual, nLm,
      nNear, Curation.ShuffleShards, nWindows))
  }
}
