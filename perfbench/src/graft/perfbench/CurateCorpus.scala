package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.CurateMain
import graft.dedup.{Dedup, DedupQueries}
import graft.textanalysis.{Curation, LangModel, TextAnalysis}

/** `curate_corpus`: documents plus seeded exact copies and near-copy
  * variants through CurateMain.run. Dedup and text analysis do the work;
  * no entity-resolution layer runs, so a change confined to blocking,
  * matching, resolving or the statement store should leave it unchanged
  * while a change to shared plumbing shows.
  */
final class CurateCorpus(spark: SparkSession, run: Run)
    extends Workload(spark, run) {

  val setupReps = 3
  val minUnits = 1
  val spans: Seq[String] = Seq("curate.run", "dedup.exact",
    "textanalysis.quality", "textanalysis.lm", "dedup.near",
    "textanalysis.pack")
  /** Base documents: the first 500 of the test corpus. */
  val nDocs = 500
  val minQuality = 0.3
  val minLogp = -12.0
  private val input = s"$work/input"
  private var nInput = 0L
  private var nDistinct = 0L
  private var nNear = 0

  def setup(rep: Int): Unit = {
    import spark.implicits._
    val (docs, nExact, near) = Inputs.documents(spark, run.data,
      nDocs, rnd(2), 0.15, 0.15)
    docs.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(input)
    nInput = docs.size.toLong
    nDistinct = docs.map(_._2).distinct.size.toLong
    nNear = near
    info("planted") = Fmt.obj(Seq("docs" -> docs.size.toString,
      "exact" -> nExact.toString, "near" -> near.toString,
      "distinct_texts" -> nDistinct.toString))
  }

  /** One curation run, its report and output checked. */
  def unit(i: Int): Unit = {
    val (curated, report) = tracer.span("curate.run") {
      CurateMain.run(spark, spark.read.parquet(input), minQuality, minLogp)
    }
    val sum = tracer.span("curate.force") {
      checksum(curated.select(col("doc_id"), col("text"), col("shard"),
        col("start_tok"), col("n_tokens")))
    }
    info("report") = report.json
    counts("dedup.removed_docs") = (report.input - report.afterExact +
      report.afterLm - report.afterNearDup).toDouble
    ops.check("input count")(report.input == nInput)
    ops.check("exact dedup removes exactly the planted copies")(
      report.afterExact == nDistinct)
    ops.check("near dedup removes planted near copies")(
      nNear == 0 || report.afterNearDup < report.afterLm)
    ops.check("checksum matches the recorded one")(
      Expected.matches(run, "curate_corpus", sum))
    info("checksum") = sum.toString
    spark.catalog.clearCache()
  }

  def finish(): Unit = ()

  /** The pipeline's stages one by one, each on the previous stage's
    * output, with CurateMain.run's settings: a stage's span covers its
    * layer call and forcing its output. The LSH counts are taken after
    * the near-dup span, outside its time.
    */
  override def probes(): Unit = {
    def force(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true); c.count(); c
    }
    val docs = force(spark.read.parquet(input)
      .select(col("doc_id"), col("text"), col("lang"), col("source")))
    val exact = tracer.span("dedup.exact") {
      val hashed = docs.withColumn("h", md5(col("text")))
      force(hashed.join(hashed.groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id")), Seq("h", "doc_id"),
        "left_semi").drop("h"))
    }
    val qual = tracer.span("textanalysis.quality") {
      val q = TextAnalysis.withWords(exact).select(col("doc_id"),
        TextAnalysis.qualityExpr(col("w")).as("quality"))
      force(exact.join(q.filter(col("quality") >= minQuality),
        Seq("doc_id")))
    }
    val lmKept = tracer.span("textanalysis.lm") {
      force(qual.join(LangModel.lmScoreOf(qual)
        .filter(col("avg_logp") >= minLogp).select(col("doc_id")),
        Seq("doc_id")))
    }
    val nearKept = tracer.span("dedup.near") {
      val drop = DedupQueries.clustersOf(lmKept).filter(!col("keep"))
        .select(col("doc_id").cast("long").as("doc_id"))
      force(lmKept.join(drop, Seq("doc_id"), "left_anti"))
    }
    tracer.span("textanalysis.pack") {
      Curation.packOf(nearKept).count()
    }
    val sigs = DedupQueries.hashedShinglesOf(lmKept).select(col("doc_id"),
      Dedup.minhashSigFromHashes(col("hs"), DedupQueries.MinhashK).as("sig"))
    val cand = Dedup.lshCandidates(sigs, "doc_id", DedupQueries.Bands,
      DedupQueries.RowsPerBand).count()
    val verified = DedupQueries.lshPairsOf(lmKept).count()
    counts("dedup.lsh_candidates") = cand.toDouble
    counts("dedup.useful_ratio") = verified.toDouble / math.max(1L, cand)
    spark.catalog.clearCache()
  }
}
