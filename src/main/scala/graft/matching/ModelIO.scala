package graft.matching

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regression-model interchange (SURVEY §7.4 risk 6): the reference
  * persists sklearn pickles (`matching/regression_v1/model.py:36-46`)
  * which cannot load in a JVM. This exports/loads the same information
  * — feature names, StandardScaler means/scales, LR weights, intercept
  * — as plain JSON, so models round-trip between the engines: a
  * reference-side script can dump its pickle to this JSON and the Spark
  * scorers run it; models trained here load back identically.
  *
  * Scaler semantics are folded at import: the scaled model
  * `sigmoid(b + Σ w_i · (x_i − μ_i)/σ_i)` becomes the flat
  * `sigmoid(b' + Σ w'_i · x_i)` with `w'_i = w_i/σ_i` and
  * `b' = b − Σ w_i·μ_i/σ_i`, which is what every scorer in
  * [[Algorithms]] evaluates.
  */
object ModelIO {

  final case class ScaledModel(
      algorithm: String,
      features: Seq[String],
      means: Seq[Double],
      scales: Seq[Double],
      weights: Seq[Double],
      intercept: Double) {

    /** Fold the scaler into flat coefficients. */
    def flat: Training.Model = {
      val w = weights.zip(scales).map { case (wi, s) => wi / s }
      val b = intercept -
        weights.lazyZip(means).lazyZip(scales)
          .map((wi, m, s) => wi * m / s).sum
      Training.Model(b, w)
    }
  }

  private lazy val mapper = new ObjectMapper()

  def toJson(m: ScaledModel): String = {
    val root = mapper.createObjectNode()
    root.put("algorithm", m.algorithm)
    def arr(name: String, vs: Seq[Double]): Unit = {
      val a = root.putArray(name)
      vs.foreach(a.add)
    }
    val fa = root.putArray("features")
    m.features.foreach(fa.add)
    arr("means", m.means)
    arr("scales", m.scales)
    arr("weights", m.weights)
    root.put("intercept", m.intercept)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def fromJson(json: String): ScaledModel = {
    val root = mapper.readTree(json)
    def darr(name: String): Seq[Double] =
      root.get(name).asInstanceOf[ArrayNode].elements().asScala
        .map(_.asDouble).toSeq
    ScaledModel(
      algorithm = root.get("algorithm").asText(),
      features = root.get("features").asInstanceOf[ArrayNode]
        .elements().asScala.map(_.asText).toSeq,
      means = if (root.has("means")) darr("means") else Nil,
      scales = if (root.has("scales")) darr("scales") else Nil,
      weights = darr("weights"),
      intercept = root.get("intercept").asDouble())
  }

  /** Unscaled export of a trained [[Training.Model]]. */
  def of(algorithm: String, featNames: Seq[String],
      m: Training.Model): ScaledModel =
    ScaledModel(algorithm, featNames,
      means = Seq.fill(featNames.size)(0.0),
      scales = Seq.fill(featNames.size)(1.0),
      weights = m.weights, intercept = m.intercept)

  /** StandardScaler fit over a training frame: per-feature mean and
    * population stddev (zero-variance features scale by 1, sklearn's
    * convention).
    */
  def fitScaler(frame: DataFrame,
      featCols: Seq[String]): (Seq[Double], Seq[Double]) = {
    val aggs = featCols.flatMap(c =>
      Seq(avg(col(c)).as(s"m_$c"), stddev_pop(col(c)).as(s"s_$c")))
    val row = frame.agg(aggs.head, aggs.tail: _*).head()
    val means = featCols.indices.map(i => row.getDouble(2 * i))
    val scales = featCols.indices.map { i =>
      val s = row.getDouble(2 * i + 1)
      if (s == 0.0 || s.isNaN) 1.0 else s
    }
    (means, scales)
  }
}
