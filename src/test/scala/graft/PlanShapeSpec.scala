package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards: the scale claims the scaladocs make, asserted on
  * the actual physical plans so a refactor cannot silently regress
  * them. Map-only operators must plan without a single Exchange; no
  * pipeline may degrade to a cartesian product (the documented 1-row
  * scalar cross-joins and the bounded n×C products are the only
  * allowed ones, and they appear as BroadcastNestedLoopJoin over a
  * broadcast side, never CartesianProduct).
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkSpec.spark

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("map-only operators plan with zero Exchanges") {
    val mapOnly = Seq(
      "q_text_pii" -> textanalysis.Pii.queries("q_text_pii"),
      "q_text_stats" -> textanalysis.TextAnalysis.queries("q_text_stats"),
      "q_text_fingerprint" ->
        textanalysis.TextAnalysis.queries("q_text_fingerprint"),
      "q_sim_quantize" ->
        similarity.SimilarityQueries.queries("q_sim_quantize"),
      "q_doc_fim" -> textanalysis.Curation.queries("q_doc_fim"),
      "q_mm_meta" -> multimodal.Multimodal.queries("q_mm_meta"))
    for ((name, q) <- mapOnly) {
      val p = plan(q(spark, dir))
      assert(!p.contains("Exchange"), s"$name plans an Exchange:\n$p")
    }
  }

  test("no query plans a CartesianProduct") {
    val all = SparkEntry.queries
    // full sweep at the smallest SF; streaming-only ops are not in the
    // map, so every entry is plannable
    for ((name, q) <- all) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("no query maps case through Spark's Lower or Upper") {
    // every DataFrame lower/upper goes through graft.functions.CaseMap,
    // which never loads Spark's code-point title-case table
    for ((name, q) <- SparkEntry.queries) {
      val found = q(spark, dir).queryExecution.analyzed
        .collectWithSubqueries { case p => p.expressions }.flatten
        .flatMap(_.collect { case e @ (_: Lower | _: Upper) => e.sql })
      assert(found.isEmpty, s"$name evaluates $found")
    }
  }

  test("the pq distance table and compat tables broadcast") {
    val p = plan(similarity.Pq.queries("q_sim_pq")(spark, dir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"q_sim_pq lost its broadcast:\n$p")
  }

  test("the LM token stream joins its count tables by broadcast only") {
    // the scale claim of q_text_lm: the corpus token stream must never
    // shuffle on a term key — every LM-table join is broadcast-hash
    val p = plan(textanalysis.LangModel.queries("q_text_lm")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"q_text_lm lost broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q_text_lm shuffles the token stream:\n$p")
  }

  test("the dedup band pipelines carry the hot-bucket cap") {
    // the r6 skew guard: candidate generation must drop capped buckets
    // before any pair fan-out. Every banding channel runs
    // Dedup.cappedPairs, which applies the cap as a window count + filter
    // on its single key exchange, ahead of the collect
    val banded: Seq[(String, DataFrame)] = Seq(
      "lshPairsOf" ->
        dedup.DedupQueries.lshPairsOf(Tables.documents(spark, dir)),
      "q_dedup_simhash_pairs" ->
        dedup.DedupQueries.queries("q_dedup_simhash_pairs")(spark, dir),
      "q_dedup_incremental" ->
        dedup.DedupQueries.queries("q_dedup_incremental")(spark, dir),
      "q_mm_phash_decoded" ->
        multimodal.Multimodal.queries("q_mm_phash_decoded")(spark, dir))
    for ((name, df) <- banded) {
      val p = plan(df)
      assert(p.contains("windowspecdefinition"),
        s"$name lost the window df count:\n$p")
      assert(p.contains(s"<= ${dedup.Dedup.LshBucketCap}"),
        s"$name lost the bucket-cap filter:\n$p")
      assert(!p.contains("LeftAnti"), s"$name plans a hot-key anti-join:\n$p")
    }
  }

  test("the dedup verify joins carry no broadcast hint") {
    // the fetched side holds a whole shingle or fingerprint set per
    // candidate pair, so a forced broadcast would grow with duplication
    for (name <- Seq("q_dedup_incremental", "q_dedup_winnow")) {
      val p = dedup.DedupQueries.queries(name)(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("strategy=broadcast"),
        s"$name forces a broadcast:\n$p")
    }
  }

  test("q8 near-dup scans only the stored banded corpus") {
    // nearPreparedCk is the stored index — since r7 a lake parquet
    // artifact: the int8 verify path must read ONLY the artifact, never
    // the raw embeddings table
    similarity.SimilarityQueries.nearPreparedCk(spark, dir).count()
    val p = plan(
      similarity.SimilarityQueries.queries("q_sim_near_q8")(spark, dir))
    assert(!p.contains("embeddings.parquet"),
      s"q_sim_near_q8 re-reads the corpus instead of the index:\n$p")
    // the index arrives either as the lake artifact scan or as the
    // session's read-once-then-cache copy of it (ExistingRDD)
    assert(p.contains("near_banded") || p.contains("ExistingRDD"),
      s"q_sim_near_q8 lost the stored-index scan:\n$p")
  }

  test("trained IVF keeps the broadcast n-by-C assignment product") {
    val p = plan(
      similarity.SimilarityQueries.queries("q_sim_ivf")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"q_sim_ivf lost its broadcast assignment:\n$p")
  }

  test("wsample plans TakeOrderedAndProject, not a global sort") {
    val p = plan(textanalysis.Curation.queries("q_doc_wsample")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"q_doc_wsample lost its top-N plan:\n$p")
  }

  private def occurrences(p: String, s: String): Int =
    p.sliding(s.length).count(_ == s)

  /** The xref test corpus as a parquet statement table. */
  private lazy val corpusDir: String = {
    val d = SparkSpec.tempDir("plan-shape-stmts") + "/statements"
    xref.XrefCorpus.statements(spark).write.parquet(d)
    d
  }

  test("the entity tokenizer scans the statement table once") {
    val p = plan(blocker.EntityTokenizer.entries(spark.read.parquet(corpusDir)))
    assert(occurrences(p, "FileScan") === 1, s"entries rescans:\n$p")
    assert(occurrences(p, "Exchange") === 1, s"entries reshuffles:\n$p")
  }

  test("xref scores from its built layers, never the statement table") {
    // run materializes its one scoring query as a local checkpoint; the
    // listener sees that query's executed plan, which must read the
    // entries/TF and assembled/views frames as leaves
    val scoring = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint" &&
            qe.analyzed.output.map(_.name) == Seq("lid", "rid", "score"))
          scoring.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      xref.Xref.run(spark, spark.read.parquet(corpusDir),
        spark.emptyDataFrame.selectExpr("'' AS src", "'' AS dst"),
        xref.Xref.Config(autoThreshold = Some(0.6)))
      val deadline = System.nanoTime() + 10000000000L
      while (scoring.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(scoring.size === 1, "run did not materialize one scoring query")
    val p = scoring.peek()
    assert(occurrences(p, "FileScan") === 0,
      s"the scoring query rescans statements:\n$p")
    assert(occurrences(p, "ExistingRDD") > 0, s"no built layer read:\n$p")
  }
}
