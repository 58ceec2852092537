package graft.matching

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pair-file loss evaluation (reference `contrib/scoring_loss.py` over
  * `matching/pairs.py`): read a JSON-lines file of judged entity pairs
  * (`{"left": <entity>, "right": <entity>, "judgement": "positive" |
  * "negative"}` — the training-data interchange `JudgedPair.to_dict`
  * emits), score every pair with the registered algorithms, and report
  * per-algorithm mean absolute loss plus the confusion matrix at a
  * decision threshold.
  *
  * Spark-first: the file is a distributed JSON scan, views build once
  * per entity, and the per-pair comparator loop runs inside the same
  * vectorized UDF pass the xref scorer uses ([[EntityMatch.scorePairs]])
  * — a billion-pair training file is a partitioned job, not a driver
  * loop. Pairs carrying the `opencorporates` dataset are excluded like
  * the reference (`scoring_loss.py:46-48`).
  */
object ScoringLoss {

  /** The reference's evaluated algorithm list (`scoring_loss.py
    * ALGORITHMS` — MatcherV2 is commented out there; logic-v2 is added
    * here because this engine ships it as a first-class scorer).
    */
  val DefaultAlgorithms: Seq[String] =
    Seq("regression-v1", "name-based", "name-qualified", "logic-v1",
      "logic-v2")

  private val entityType = StructType(Seq(
    StructField("id", StringType),
    StructField("schema", StringType),
    StructField("properties",
      MapType(StringType, ArrayType(StringType))),
    StructField("datasets", ArrayType(StringType))))

  val pairSchema: StructType = StructType(Seq(
    StructField("left", entityType),
    StructField("right", entityType),
    StructField("judgement", StringType),
    StructField("weight", DoubleType)))

  /** Judged pairs from a JSON-lines file: positive/negative only,
    * opencorporates excluded (`scoring_loss.py:41-48`).
    */
  def readPairs(s: SparkSession, path: String): DataFrame =
    s.read.schema(pairSchema).json(path)
      .filter(col("judgement").isin("positive", "negative"))
      .filter(!array_contains(
        concat(coalesce(col("left.datasets"), array()),
          coalesce(col("right.datasets"), array())),
        "opencorporates"))

  /** One row per pair with every algorithm's score and the target. */
  def scoreJudged(pairs: DataFrame,
      algoNames: Seq[String] = DefaultAlgorithms): DataFrame = {
    val entities = pairs.select(col("left.*"))
      .unionByName(pairs.select(col("right.*")))
      .select(col("id"), col("schema"), col("properties"))
      .dropDuplicates("id")
    val views = EntityMatch.views(entities,
      emptyStmts(pairs.sparkSession))
    val judged = pairs.select(
      col("left.id").as("lid"), col("right.id").as("rid"),
      when(col("judgement") === "positive", 1.0).otherwise(0.0)
        .as("target"))
    EntityMatch.scorePairs(judged, views, algoNames)
  }

  private def emptyStmts(s: SparkSession): DataFrame =
    s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("canonical_id", StringType),
        StructField("schema", StringType),
        StructField("prop", StringType),
        StructField("value", StringType))))

  /** Per-algorithm aggregate: mean |target − score| plus the confusion
    * matrix at `threshold` (`scoring_loss.py:52-87`). One aggregation
    * over the scored frame — the per-algorithm rows are a literal
    * explode, not separate jobs.
    */
  def report(scored: DataFrame, threshold: Double = 0.7,
      algoNames: Seq[String] = DefaultAlgorithms): DataFrame = {
    val perAlgo = scored.select(col("target"),
      explode(map(algoNames.flatMap(n =>
        Seq(lit(n), col(n.replace("-", "_")))): _*))
        .as(Seq("algorithm", "score")))
    perAlgo.groupBy(col("algorithm")).agg(
      count(lit(1)).as("pairs"),
      round(avg(abs(col("target") - col("score"))), 6).as("mean_loss"),
      sum(when(col("target") === 1.0 && col("score") > threshold, 1L)
        .otherwise(0L)).as("true_pos"),
      sum(when(col("target") === 0.0 && col("score") <= threshold, 1L)
        .otherwise(0L)).as("true_neg"),
      sum(when(col("target") === 0.0 && col("score") > threshold, 1L)
        .otherwise(0L)).as("false_pos"),
      sum(when(col("target") === 1.0 && col("score") <= threshold, 1L)
        .otherwise(0L)).as("false_neg"))
      .orderBy(col("algorithm"))
  }
}
