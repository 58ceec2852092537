package graft.matching

import org.scalatest.funsuite.AnyFunSuite

import graft.ReferenceFiles

/** Scratch diagnostic: prints logic-v2's entity_bench failures. */
class EntityBenchDiagSpec extends AnyFunSuite {
  test("logic-v2 failures at 0.7") {
    val checks = EntityBench.loadChecks(
      ReferenceFiles.readable(EntityBench.DefaultChecksPath))
    val r = EntityBench.run(checks, Algorithms.LogicV2, 0.7)
    info(s"failures: ${r.failures.size}")
    r.failures.sortBy(f => (-math.abs(f.score - 0.7))).foreach { f =>
      val c = f.check
      info(f"${if (f.predicted) "FP" else "FN"} s=${f.score}%.2f " +
        f"[${c.schema}] ${c.query} vs ${c.candidate}" +
        (if (c.label.nonEmpty) s" (${c.label})" else ""))
    }
  }
}
