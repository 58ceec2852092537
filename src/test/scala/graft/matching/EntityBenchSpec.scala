package graft.matching

import org.scalatest.funsuite.AnyFunSuite

import graft.ReferenceFiles

/** The entity_bench accuracy gate (reference
  * `contrib/entity_bench/benchmark.py` over `checks.yml`): the only
  * accuracy corpus that is independent of the frozen name-bench CSV
  * the NameMatchV2 constants were fit against. The floors pinned here
  * are the measured round-8 scores — any NameMatchV2 (or feature
  * library) change that trades frozen-CSV parity for generalization
  * loss fails this suite.
  */
class EntityBenchSpec extends AnyFunSuite {

  lazy val checks: Seq[EntityBench.Check] =
    EntityBench.loadChecks(
      ReferenceFiles.readable(EntityBench.DefaultChecksPath))

  test("parses the full checks corpus") {
    assert(checks.size === 228)
    // schema census matches the YAML (grep -c per schema)
    val bySchema = checks.groupBy(_.schema).view.mapValues(_.size).toMap
    assert(bySchema === Map("Person" -> 138, "Company" -> 53,
      "Organization" -> 17, "LegalEntity" -> 12, "Vessel" -> 8))
    // every check has names on both sides (directly or composed parts)
    checks.foreach { c =>
      assert(EntityBench.viewOf(c.schema, c.query).names.nonEmpty, c)
      assert(EntityBench.viewOf(c.schema, c.candidate).names.nonEmpty, c)
    }
  }

  test("plain-scalar folding reassembles multi-line names") {
    // checks.yml:1221-1227 folds two long Russian org names
    val folded = checks.filter(_.query.get("name").exists(
      _.contains("ЦЕНТР СОЦИАЛЬНОЙ АДАПТАЦИИ")))
    assert(folded.nonEmpty)
    folded.foreach { c =>
      assert(!c.query("name").contains("\n"))
      assert(c.query("name").contains("АДАПТАЦИИ \"АЛЬЯНС\""))
    }
  }

  test("part-name composition follows the reference order") {
    val v = EntityBench.viewOf("Person", Map(
      "firstName" -> "Hans", "middleName" -> "J",
      "lastName" -> "Friedrich"))
    assert(v.names === Seq("Hans J Friedrich"))
    assert(v.firstNames === Seq("Hans"))
    assert(v.lastNames === Seq("Friedrich"))
    // explicit name wins over composition
    val v2 = EntityBench.viewOf("Person", Map(
      "name" -> "Olaf Scholz", "firstName" -> "Olaf"))
    assert(v2.names === Seq("Olaf Scholz"))
  }

  // ---- accuracy floors (measured round 8; raise, never lower) ----

  private def correctAt(algo: String, t: Double): Int =
    EntityBench.run(checks, Algorithms.registry(algo), t).total.correct

  test("logic-v2 accuracy floor at 0.7") {
    val r = EntityBench.run(checks, Algorithms.LogicV2, 0.7)
    info(s"logic-v2@0.7: ${r.total.correct}/228 " +
      s"(FP ${r.total.falsePositives}, FN ${r.total.falseNegatives}, " +
      f"loss ${r.total.avgLoss}%.3f)")
    assert(r.total.correct >= 200)
  }

  test("logic-v2 stays precise at 0.9") {
    val r = EntityBench.run(checks, Algorithms.LogicV2, 0.9)
    assert(r.total.falsePositives <= 4)
    assert(r.total.correct >= 176)
  }

  test("logic-v1 and regression-v1 floors at 0.7") {
    assert(correctAt("logic-v1", 0.7) >= 160)
    assert(correctAt("regression-v1", 0.5) >= 160)
  }
}
