package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Trained document-quality classifier gate — the fastText-style stage
  * every public training-data pipeline runs between the cheap
  * heuristics and the expensive filters: a logistic model over cheap
  * text features, TRAINED on a content-keyed split, shipped as
  * broadcast coefficients, applied map-only to the whole corpus.
  *
  * On a real corpus the label comes from curated seed sets (wiki pages
  * as positives, random crawl as negatives — the CCNet/fastText
  * recipe); this synthetic corpus's text is sampled independently of
  * every metadata column, so the only learnable target is the
  * composite quality gate itself ([[TextAnalysis.qualityExpr]] ≥
  * [[QualityThreshold]]) — the classifier distills that decision from
  * the raw component features, and the held-out half genuinely
  * measures the fit (~0.80-0.84 accuracy across scale factors; the
  * centered features keep plain batch GD well-conditioned).
  *
  * Determinism (the oracle re-trains the same model in SQL): the
  * per-epoch gradient is summed in 1e-6 fixed-point BIGINT — integer
  * addition is partition- and engine-order-invariant, and one
  * gradient quantum (1e-6) is ~1e6 × larger than a libm exp() ulp, so
  * Spark and DuckDB floor to the same integers. Weight updates are
  * driver-side doubles with the same operation order on both engines.
  *
  * Scale shape (100 TB): training is ONE aggregation job per epoch
  * over the feature projection (map-side combine, bytes per
  * partition); the trained model is a lake artifact built at ingest
  * ([[modelCk]]) — queries read five coefficients and score the corpus
  * in a single codegen'd map pass, exactly like the shipped matcher
  * models in [[graft.matching.ModelIO]].
  */
object Classifier {

  val Epochs = 40
  val Lr = 10.0
  val QualityThreshold = 0.70
  /** md5 buckets below this (of 65536) train — the 50% content-keyed
    * split idiom shared with [[LangModel]].
    */
  val TrainBuckets = 32768

  /** English stopword markers — the [[TextAnalysis.LangMarkers]] head. */
  private val Markers = TextAnalysis.LangMarkers.head._2

  /** Feature centering constants (fixed literals, not data-derived):
    * GD from zero converges ~4× faster when features straddle zero.
    */
  private val C1 = 0.8; private val C2 = 0.5
  private val C3 = 0.35; private val C4 = 0.45

  /** Map-only feature frame over token-bearing documents: centered
    * length saturation, type-token ratio, stopword-band distance, mean
    * word length — plus the quality label and the split flag.
    */
  def featuresOf(docs: DataFrame): DataFrame = {
    val w = col("w")
    val nTok = size(w).cast("double")
    val stop = size(filter(w, x => x.isInCollection(Markers)))
      .cast("double")
    val sumlen = aggregate(transform(w, x => length(x)), lit(0),
      (acc, x) => acc + x).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0))
    val ttr = size(array_distinct(w)).cast("double") / size(w)
    val q4 = floor((lit(0.4) * lenScore + lit(0.3) * ttr +
      lit(0.3) * (lit(1.0) - abs(stop / size(w) - 0.4))) * 10000
      + 0.5) / 10000
    val bucket = conv(substring(
      md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    TextAnalysis.withWords(docs)
      .filter(size(w) > 0)
      .select(col("doc_id"),
        (lenScore - C1).as("x1"),
        (ttr - C2).as("x2"),
        (abs(stop / size(w) - 0.4) - C3).as("x3"),
        (sumlen / size(w) / 10.0 - C4).as("x4"),
        when(q4 >= QualityThreshold, 1).otherwise(0).as("y"),
        (bucket < TrainBuckets).as("is_train"))
  }

  final case class Weights(b: Double, w1: Double, w2: Double,
      w3: Double, w4: Double)

  /** Batch gradient descent with fixed-point gradient sums — see the
    * determinism note above. One distributed aggregation per epoch
    * over the train half.
    */
  def train(feat: DataFrame): Weights = graft.Caches.holding { held =>
    // pinned, not checkpointed: every epoch re-reads this train-half
    // table — local-disk blocks with lineage retained survive an
    // executor loss mid-training (checkpoint blocks would not)
    val cached = held.pin(feat.filter(col("is_train"))
      .select(col("x1"), col("x2"), col("x3"), col("x4"),
        col("y").cast("double").as("y")))
    val n = cached.count().toDouble
    var b = 0.0
    val w = Array.fill(4)(0.0)
    for (_ <- 1 to Epochs) {
      // z/p/err mirror the oracle's expression order exactly
      val z = lit(b) + col("x1") * w(0) + col("x2") * w(1) +
        col("x3") * w(2) + col("x4") * w(3)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val err = p - col("y")
      def g6(c: Column): Column =
        sum(floor(c * 1e6 + 0.5).cast("long"))
      val row = cached.agg(g6(err).as("gb"), g6(err * col("x1")).as("g1"),
        g6(err * col("x2")).as("g2"), g6(err * col("x3")).as("g3"),
        g6(err * col("x4")).as("g4")).head()
      b = b - (Lr * (row.getLong(0) / 1e6)) / n
      for (i <- 0 until 4)
        w(i) = w(i) - (Lr * (row.getLong(i + 1) / 1e6)) / n
    }
    Weights(b, w(0), w(1), w(2), w(3))
  }

  /** The trained model as a one-row lake artifact (built at ingest,
    * like every stored index — see graft.Caches.ensureAll).
    */
  def modelCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "quality_model") {
      val m = train(featuresOf(Tables.documents(s, d)))
      s.range(1).select(lit(m.b).as("b"), lit(m.w1).as("w1"),
        lit(m.w2).as("w2"), lit(m.w3).as("w3"), lit(m.w4).as("w4"))
    }

  /** Score the WHOLE corpus (train and held-out halves) against the
    * trained coefficients: one broadcast of five doubles, map-only
    * codegen'd scoring — `(doc_id, label, score6, pred)` with the
    * probability in 1e-6 fixed point.
    */
  def classifierQ(s: SparkSession, d: String): DataFrame = {
    val feat = featuresOf(Tables.documents(s, d))
    val z = col("b") + col("x1") * col("w1") + col("x2") * col("w2") +
      col("x3") * col("w3") + col("x4") * col("w4")
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    feat.crossJoin(broadcast(modelCk(s, d)))
      .select(col("doc_id"), col("y").as("label"),
        floor(p * 1e6 + 0.5).cast("long").as("score6"))
      // pred compares the 1e-6 fixed-point score, so the decision is
      // exactly the one the reported score6 shows, even for p in
      // [0.4999995, 0.5).
      .withColumn("pred", when(col("score6") >= 500000L, 1).otherwise(0))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_classifier" -> (classifierQ _))

  // ---------------------------------------------------------------- oracle

  /** The oracle RE-TRAINS the model in SQL: one MATERIALIZED CTE pair
    * per epoch (gradient sums, then the weight update) — without the
    * MATERIALIZED hint the epoch chain inlines exponentially.
    */
  private lazy val classifierSql: String = {
    val markers = Markers.map(m => s"'$m'").mkString(", ")
    val base = s"""
      WITH wd AS MATERIALIZED (
        SELECT doc_id, ${TextAnalysis.wSql} AS w FROM documents),
      fr AS (
        SELECT doc_id, len(w) AS n_tok,
               len(list_distinct(w)) AS n_distinct,
               CAST(list_sum(list_transform(w, x -> length(x)))
                 AS BIGINT) AS sumlen,
               len(list_filter(w, x -> list_contains([$markers], x)))
                 AS stop
        FROM wd WHERE len(w) > 0),
      feat AS MATERIALIZED (
        SELECT doc_id,
               least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) - $C1 AS x1,
               CAST(n_distinct AS DOUBLE) / n_tok - $C2 AS x2,
               abs(CAST(stop AS DOUBLE) / n_tok - 0.4) - $C3 AS x3,
               CAST(sumlen AS DOUBLE) / n_tok / 10.0 - $C4 AS x4,
               CASE WHEN floor((0.4 * least(CAST(n_tok AS DOUBLE) / 50.0, 1.0)
                   + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tok)
                   + 0.3 * (1.0 - abs(CAST(stop AS DOUBLE) / n_tok - 0.4)))
                   * 10000 + 0.5) / 10000 >= $QualityThreshold
                 THEN 1 ELSE 0 END AS y,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                 AS BIGINT) < $TrainBuckets AS is_train
        FROM fr),
      nn AS (SELECT count(*) AS n FROM feat WHERE is_train),
      w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS w1,
                    CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3,
                    CAST(0.0 AS DOUBLE) AS w4)"""
    val epochs = (1 to Epochs).map { t =>
      val z = s"w${t - 1}.b + x1*w${t - 1}.w1 + x2*w${t - 1}.w2 " +
        s"+ x3*w${t - 1}.w3 + x4*w${t - 1}.w4"
      val p = s"(1.0/(1.0 + exp(-($z))))"
      val gs = (1 to 4).map(i =>
        s"sum(CAST(floor(($p - y)*x$i*1e6 + 0.5) AS BIGINT)) AS g$i")
        .mkString(",\n        ")
      s"""
      g$t AS MATERIALIZED (SELECT
        sum(CAST(floor(($p - y)*1e6 + 0.5) AS BIGINT)) AS gb,
        $gs
        FROM feat, w${t - 1} WHERE is_train),
      w$t AS MATERIALIZED (SELECT
        b - ($Lr*(gb/1e6))/n AS b,
        ${(1 to 4).map(i => s"w$i - ($Lr*(g$i/1e6))/n AS w$i")
          .mkString(", ")}
        FROM g$t, w${t - 1}, nn)"""
    }.mkString(",", ",", "")
    val zF = "b + x1*w1 + x2*w2 + x3*w3 + x4*w4"
    val pF = s"(1.0/(1.0 + exp(-($zF))))"
    base + epochs + s"""
      SELECT doc_id, y AS label,
             CAST(floor($pF*1e6 + 0.5) AS BIGINT) AS score6,
             CASE WHEN CAST(floor($pF*1e6 + 0.5) AS BIGINT) >= 500000
               THEN 1 ELSE 0 END AS pred
      FROM feat, w$Epochs"""
  }

  val oracles: Map[String, String] = Map(
    "q_text_classifier" -> classifierSql)
}
