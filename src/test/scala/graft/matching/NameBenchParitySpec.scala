package graft.matching

import org.scalatest.funsuite.AnyFunSuite

import graft.ReferenceFiles

/** Match/no-match agreement of the partial logic-v2 port against the
  * reference's frozen name-bench run
  * (`contrib/name_bench/run_data/logicv2-frozen.csv`): same entity
  * pairs, same decision threshold; we measure classification agreement
  * (the absolute scores can differ — the full matcher has symbol
  * lexicons this port does not).
  */
class NameBenchParitySpec extends AnyFunSuite {

  lazy val fixture =
    ReferenceFiles("contrib/name_bench/run_data/logicv2-frozen.csv")
  val Threshold = 0.7

  final case class Case(schema: String, name1: String, name2: String,
      isMatch: Boolean, frozenScore: Double, frozenPred: Boolean)

  lazy val cases: Seq[Case] =
    NameBench.readCsv(fixture).flatMap { r =>
      try Some(Case(r("schema"), r("name1"), r("name2"),
        r("is_match").toBoolean, r("score").toDouble,
        r("predicted_match").toBoolean))
      catch { case _: Exception => None }
    }

  def view(schema: String, name: String): EntityView =
    EntityView("x", schema, Seq(name), Nil, Nil, Nil, Nil, Nil, Nil, Nil,
      Nil)

  test("classification agreement with the frozen logic-v2 run") {
    val scored = cases.map { c =>
      val s = Algorithms.LogicV2.score(view(c.schema, c.name1),
        view(c.schema, c.name2))
      (c, s, s >= Threshold)
    }
    val n = scored.size
    val agreeFrozen = scored.count { case (c, _, p) => p == c.frozenPred }
    val agreeTruth = scored.count { case (c, _, p) => p == c.isMatch }
    val tp = scored.count { case (c, _, p) => p && c.isMatch }
    val fp = scored.count { case (c, _, p) => p && !c.isMatch }
    val fn = scored.count { case (c, _, p) => !p && c.isMatch }
    val precision = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val mae = scored.map { case (c, s, _) =>
      math.abs(s - c.frozenScore) }.sum / n
    info(f"n=$n agreeFrozen=${agreeFrozen.toDouble / n}%.3f " +
      f"agreeTruth=${agreeTruth.toDouble / n}%.3f " +
      f"precision=$precision%.3f recall=$recall%.3f MAE=$mae%.3f")
    // measured (round 10): agreeFrozen 0.9975 (2 residual
    // disagreements of 812), MAE 0.019 — the round-7 decode + round-8
    // location glue + round-9 matcher families + round-10 broken-twin
    // phrase bias (TACTICAL JOYNT now exact). Remaining tail: the
    // Academy typo-extras row (rigour's cluster-level residue scoring,
    // infeasible for the per-token model — PLANS.md round-10 census)
    // and AL BEN MAHMOUD — which the frozen run itself misclassifies
    // (entity_bench pins it match:false; we score it below threshold,
    // which is CORRECT), so matching it is deliberately not attempted.
    assert(n > 100)
    assert(agreeFrozen.toDouble / n >= 0.9975)
    assert(agreeTruth.toDouble / n >= 0.75)
    assert(mae <= 0.020)
  }
}
