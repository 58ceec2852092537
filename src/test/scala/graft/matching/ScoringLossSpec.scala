package graft.matching

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The scoring_loss mirror: pair-file parsing (judgement filter,
  * opencorporates exclusion), per-algorithm loss/confusion aggregation,
  * and sanity of the scores on clear-cut pairs.
  */
class ScoringLossSpec extends AnyFunSuite {
  import graft.SparkSpec.spark

  private def entity(id: String, schema: String, name: String,
      datasets: String = ""): String = {
    val ds = if (datasets.isEmpty) "[]" else s"""["$datasets"]"""
    s"""{"id":"$id","schema":"$schema","properties":{"name":["$name"]},"datasets":$ds}"""
  }

  private def pair(l: String, r: String, judgement: String): String =
    s"""{"left":$l,"right":$r,"judgement":"$judgement","weight":0.0}"""

  lazy val path: String = {
    val f = Paths.get(graft.SparkSpec.tempDir("pairs"), "pairs.json")
    val lines = Seq(
      // clear positive: identical person names
      pair(entity("p1", "Person", "Vladimir Petrov"),
        entity("p2", "Person", "Vladimir Petrov"), "positive"),
      // clear negative: unrelated names
      pair(entity("p3", "Person", "Maria Lopez Garcia"),
        entity("p4", "Person", "John Smith"), "negative"),
      // near-positive company pair
      pair(entity("c1", "Company", "Siemens Aktiengesellschaft"),
        entity("c2", "Company", "Siemens AG"), "positive"),
      // unsure judgement: dropped by the filter
      pair(entity("p5", "Person", "A B"),
        entity("p6", "Person", "A B"), "unsure"),
      // opencorporates pair: excluded like the reference
      pair(entity("c3", "Company", "Acme Inc", "opencorporates"),
        entity("c4", "Company", "Acme Inc"), "positive"))
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("readPairs filters judgements and opencorporates") {
    val pairs = ScoringLoss.readPairs(spark, path)
    assert(pairs.count() === 3)
  }

  test("report aggregates loss and confusion per algorithm") {
    val scored = ScoringLoss.scoreJudged(
      ScoringLoss.readPairs(spark, path))
    val rep = ScoringLoss.report(scored).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rep.keySet === ScoringLoss.DefaultAlgorithms.toSet)
    // every algorithm saw all three surviving pairs
    assert(rep.values.forall(_.getLong(1) === 3L))
    // logic-v2 separates the clear-cut pairs perfectly at 0.7
    val l2 = rep("logic-v2")
    assert(l2.getLong(3) === 2L, "true positives") // identical + AG
    assert(l2.getLong(4) === 1L, "true negatives")
    assert(l2.getLong(5) === 0L, "false positives")
    assert(l2.getLong(6) === 0L, "false negatives")
    // loss is bounded and sane
    assert(rep.values.forall(_.getDouble(2) >= 0.0))
    assert(rep.values.forall(_.getDouble(2) <= 1.0))
  }
}
