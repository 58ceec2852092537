package graft.matching

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.store.EntityStore

/** Trainer regression test (`erun/train.py` analogue): perturbation-
  * generated labels over donations names (the contrib/name_bench
  * recipe), deterministic split, GD-fitted logistic model beating a
  * high accuracy bar with sensible weight signs.
  */
class TrainingSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")

  def typo(s: String): String =
    if (s.length < 6) s + "x"
    else s.take(s.length / 2) + s.drop(s.length / 2 + 1) // drop one char

  lazy val data: (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val stmts = EntityStore.statements(
      EntityStore.readIjson(spark, fixture), "donations")
    val base = EntityStore.assemble(stmts)
      .filter(col("schema").isin("Person", "Company", "Organization"))
      .select(col("id"), col("schema"), col("caption"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq
    def view(id: String, schema: String, name: String) =
      EntityView(id, schema, Seq(name), Nil, Nil, Nil, Nil, Nil, Nil, Nil,
        Nil)
    val views = base.flatMap { case (id, sch, cap) =>
      Seq(id -> view(id, sch, cap), s"$id-t" -> view(s"$id-t", sch,
        typo(cap)))
    }
    val viewsDf = views.map { case (id, v) => id -> EntityView.encode(v) }
      .toDF("id", "view")
    // positives: entity vs its typo twin; negatives: consecutive entities
    val pos = base.map { case (id, _, _) => (id, s"$id-t", 1) }
    val neg = base.zip(base.tail).map { case ((a, _, _), (b, _, _)) =>
      (a, b, 0)
    }
    val pairs = (pos ++ neg).toDF("lid", "rid", "label")
    (pairs, viewsDf)
  }

  test("perturbation-trained logistic model learns name similarity") {
    val (pairs, viewsDf) = data
    val algo = Algorithms.ErUnstable
    val featCols = algo.features.map(f => s"f_${f.name}")
    val frame = Training.trainingFrame(pairs, viewsDf, algo)
    val clean = Training.quarantine(frame, featCols)
    val (train, test) = Training.split(clean, featCols)
    assert(train.count() > 0 && test.count() > 0)
    val model = Training.trainLogistic(train, featCols, epochs = 120,
      lr = 0.8)
    val metrics = Training.evaluate(test, featCols, model)
    info(metrics.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    assert(metrics("accuracy") >= 0.85)
    assert(metrics("recall") >= 0.8)
    // name-similarity features must carry positive weight
    val w = algo.features.map(_.name).zip(model.weights).toMap
    assert(w("person_name_levenshtein") > 0.0)
    assert(w("org_name_levenshtein") > 0.0)
  }

  test("coefficient JSON round-trips: train -> export -> load -> same scores") {
    val (pairs, viewsDf) = data
    val algo = Algorithms.ErUnstable
    val featCols = algo.features.map(f => s"f_${f.name}")
    val frame = Training.trainingFrame(pairs, viewsDf, algo)
    val clean = Training.quarantine(frame, featCols).cache()

    // scale, train on scaled features, export with the scaler attached
    val (means, scales) = ModelIO.fitScaler(clean, featCols)
    val scaled = featCols.zipWithIndex.foldLeft(clean) {
      case (df, (c, i)) =>
        df.withColumn(c, (col(c) - means(i)) / scales(i))
    }
    val model = Training.trainLogistic(scaled, featCols, epochs = 60,
      lr = 0.8)
    val json = ModelIO.toJson(ModelIO.ScaledModel(algo.name,
      algo.features.map(_.name), means, scales, model.weights,
      model.intercept))

    val loaded = ModelIO.fromJson(json)
    assert(loaded.algorithm === algo.name)
    assert(loaded.features === algo.features.map(_.name))
    // fold-in equivalence: scaled scoring == flat scoring on raw features
    val flat = loaded.flat
    val raw = clean.limit(50).collect()
    raw.foreach { r =>
      val fs = featCols.map(c => r.getAs[Double](c))
      val scaledFs = fs.zip(means.zip(scales)).map {
        case (x, (m, s)) => (x - m) / s
      }
      assert(math.abs(model.prob(scaledFs) - flat.prob(fs)) < 1e-9)
    }
  }

  test("reference regression-v1 coefficients import to score parity") {
    // the reference's SHIPPED trained model (`nomenklatura/data/
    // regression-v1.pkl`, transcribed to the ModelIO JSON interchange:
    // StandardScaler means/scales + LR weights/intercept over the
    // published 18-feature order, `matching/regression_v1/model.py:
    // 36-58`) — imported and evaluated over real donations views.
    val in = getClass.getResourceAsStream(
      "/graft/matching/regression-v1-reference.json")
    val json = scala.io.Source.fromInputStream(in).mkString
    in.close()
    val m = ModelIO.fromJson(json)
    assert(m.algorithm === "regression-v1")
    assert(m.features.size === 18)
    assert(m.features.head === "name_match")
    assert(math.abs(m.intercept - 2.14487341) < 1e-6)

    val base = Algorithms.RegressionV1
    val flat = m.flat
    val fnByName = base.features.map(f => f.name -> f.fn).toMap

    val stmts = EntityStore.statements(
      EntityStore.readIjson(spark, fixture), "donations")
    val views = EntityMatch.collectViews(
      EntityMatch.views(EntityStore.assemble(stmts), stmts), 200)
      .filter(v => v.names.nonEmpty &&
        Set("Person", "Company", "Organization")(v.schema))
    val pairs = (views.indices.take(10).map(i =>
      (views(i), views(i))) ++ // self pairs: strongest evidence
      views.indices.take(10).map(i =>
        (views(i), views((i + 7) % views.size)))).take(20)
    assert(pairs.size === 20)

    def sigmoid(z: Double) = 1.0 / (1.0 + math.exp(-z))
    val got = pairs.map { case (q, r) =>
      // expected: the sklearn pipeline semantics — scale each raw
      // feature with (x−μ)/σ, then the logistic over raw weights
      val z = m.intercept + m.features.indices.map { i =>
        val x = fnByName(m.features(i))(q, r)
        m.weights(i) * (x - m.means(i)) / m.scales(i)
      }.sum
      val expected = sigmoid(z)
      val actual = flat.prob(m.features.map(n => fnByName(n)(q, r)))
      assert(math.abs(actual - expected) < 1e-9,
        s"pair (${q.id}, ${r.id}): $actual vs $expected")
      actual
    }
    // the imported model behaves like a matcher: every self pair must
    // outscore every cross pair
    val (self, cross) = got.splitAt(10)
    assert(self.min > cross.max,
      s"self ${self.min} should exceed cross ${cross.max}")
  }

  test("quarantine drops contradictory digests") {
    val f = Seq((1.0, 1), (1.0, 0), (0.5, 1), (0.5, 1))
      .toDF("f_x", "label")
    val out = Training.quarantine(f, Seq("f_x"))
    // the 1.0 digest carries both labels → dropped; 0.5 collapses to one
    assert(out.count() === 1L)
    assert(out.head.getAs[Double]("f_x") === 0.5)
  }
}
