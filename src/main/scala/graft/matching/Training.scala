package graft.matching

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trainer for the regression matchers — the Spark replacement for the
  * reference's sklearn pipeline (`matching/erun/train.py:125-314`):
  * judged pairs → feature vectors → digest-grouped dedup with
  * contradiction quarantine → deterministic cluster-hash train/test
  * split → logistic regression fitted by distributed batch gradient
  * descent (one aggregation job per epoch; no ML library needed — the
  * model is a plain linear score, exactly what
  * `regression_v1/model.py:94-110` applies at inference time).
  */
object Training {

  /** Judged pairs (lid, rid, label 0/1) × views (`id`, binary `view`,
    * [[EntityView.encode]]) → one row per pair with the feature vector
    * of `algo` as columns f0..fn.
    */
  def trainingFrame(pairs: DataFrame, views: DataFrame,
      algo: Algorithms.Algo = Algorithms.ErUnstable): DataFrame = {
    val featNames = algo.features.map(_.name)
    val featUdf = udf((l: Array[Byte], r: Array[Byte]) => {
      val q = EntityView.decode(l)
      val c = EntityView.decode(r)
      algo.features.map(f => f.fn(q, c))
    })
    val lv = views.select(col("id").as("lid"), col("view").as("lview"))
    val rv = views.select(col("id").as("rid"), col("view").as("rview"))
    val withF = pairs.join(lv, Seq("lid")).join(rv, Seq("rid"))
      .withColumn("fs", featUdf(col("lview"), col("rview")))
    featNames.zipWithIndex.foldLeft(withF) { case (df, (n, i)) =>
      df.withColumn(s"f_$n", element_at(col("fs"), i + 1))
    }.drop("lview", "rview", "fs")
  }

  /** Digest-grouped dedup + contradiction quarantine
    * (`erun/train.py:155-216`): identical feature vectors collapse to
    * one sample; digests carrying both labels are dropped entirely.
    */
  def quarantine(frame: DataFrame, featCols: Seq[String]): DataFrame =
    frame
      .withColumn("digest",
        md5(concat_ws("|", featCols.map(c => round(col(c), 6)): _*)))
      .groupBy(col("digest"))
      .agg(first(struct(featCols.map(col): _*)).as("fv"),
        min(col("label")).as("lmin"), max(col("label")).as("lmax"),
        count(lit(1)).as("n"))
      .filter(col("lmin") === col("lmax")) // contradiction quarantine
      .select((col("lmin").as("label") +:
        featCols.map(c => col(s"fv.$c").as(c))): _*)

  /** Deterministic split: hash of the digest-ish key, no RNG
    * (`erun/train.py` cluster-hash partition).
    */
  def split(frame: DataFrame, featCols: Seq[String],
      testFrac: Double = 0.25): (DataFrame, DataFrame) = {
    val keyed = frame.withColumn("h",
      pmod(crc32(concat_ws("|", featCols.map(col): _*)), lit(100)))
    (keyed.filter(col("h") >= (testFrac * 100).toInt).drop("h"),
      keyed.filter(col("h") < (testFrac * 100).toInt).drop("h"))
  }

  final case class Model(intercept: Double, weights: Seq[Double]) {
    def z(fs: Seq[Double]): Double =
      intercept + fs.zip(weights).map { case (f, w) => f * w }.sum
    def prob(fs: Seq[Double]): Double = 1.0 / (1.0 + math.exp(-z(fs)))
  }

  /** Batch gradient descent for logistic regression: per epoch one
    * distributed aggregation of the gradient over the (persisted)
    * training frame. L2 regularization keeps weights bounded on small
    * corpora.
    */
  def trainLogistic(train: DataFrame, featCols: Seq[String],
      epochs: Int = 200, lr: Double = 0.5, l2: Double = 1e-3)
      : Model = graft.Caches.holding { held =>
    val cached = held.persist(train.select((col("label").cast("double") +:
      featCols.map(c => col(c).cast("double"))): _*))
    val n = cached.count().toDouble
    val k = featCols.length
    val w = Array.fill(k)(0.0)
    var b = 0.0
    for (_ <- 1 to epochs) {
      // gradient of the log-loss as one aggregation: for each feature
      // sum((p - y) * x), plus sum(p - y) for the intercept
      val zExpr = featCols.zipWithIndex.foldLeft(lit(b)) {
        case (acc, (c, i)) => acc + col(c) * w(i)
      }
      val p = lit(1.0) / (lit(1.0) + exp(-zExpr))
      val err = p - col("label")
      val aggs = (err.as("g_b") +: featCols.map(c => (err * col(c)))).toArray
      val row = cached.agg(sum(aggs(0)).as("g0"),
        aggs.tail.zipWithIndex.map { case (e, i) =>
          sum(e).as(s"g${i + 1}") }: _*).head()
      b -= lr * row.getDouble(0) / n
      for (i <- 0 until k)
        w(i) -= lr * (row.getDouble(i + 1) / n + l2 * w(i))
    }
    Model(b, w.toSeq)
  }

  /** Accuracy / precision / recall of a model on a labeled frame. */
  def evaluate(frame: DataFrame, featCols: Seq[String], model: Model,
      threshold: Double = 0.5): Map[String, Double] = {
    val zExpr = featCols.zipWithIndex.foldLeft(lit(model.intercept)) {
      case (acc, (c, i)) => acc + col(c) * model.weights(i)
    }
    val scored = frame.withColumn("pred",
      (lit(1.0) / (lit(1.0) + exp(-zExpr)) >= threshold).cast("int"))
    val row = scored.agg(
      sum(when(col("pred") === 1 && col("label") === 1, 1).otherwise(0))
        .as("tp"),
      sum(when(col("pred") === 1 && col("label") === 0, 1).otherwise(0))
        .as("fp"),
      sum(when(col("pred") === 0 && col("label") === 1, 1).otherwise(0))
        .as("fn"),
      count(lit(1)).as("n"),
      sum(when(col("pred") === col("label"), 1).otherwise(0)).as("ok"))
      .head()
    val tp = row.getLong(0).toDouble
    val fp = row.getLong(1).toDouble
    val fn = row.getLong(2).toDouble
    Map(
      "accuracy" -> row.getLong(4).toDouble / row.getLong(3),
      "precision" -> (if (tp + fp == 0) 0.0 else tp / (tp + fp)),
      "recall" -> (if (tp + fn == 0) 0.0 else tp / (tp + fn)))
  }
}
