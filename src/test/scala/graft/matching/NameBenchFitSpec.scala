package graft.matching

import org.scalatest.funsuite.AnyFunSuite

/** Scratch diagnostic for the round-10 global fit: dumps, for every
  * frozen name-bench row, our score, the frozen score, and the
  * best-pairing edge list (matched edges and classified extras) as a
  * TSV at target/name_bench_fit.tsv — the input to the offline
  * constraint analysis (which weight constants could carry the
  * TACTICAL/Academy residual, and which green rows pin them).
  */
class NameBenchFitSpec extends AnyFunSuite {
  test("dump per-row alignment edges") {
    val spec = new NameBenchParitySpec
    val cases = spec.cases
    val out = new java.io.PrintWriter("target/name_bench_fit.tsv")
    try cases.zipWithIndex.foreach { case (c, i) =>
      val sink = scala.collection.mutable.ListBuffer
        .empty[List[(Option[String], Option[String], Double, Double)]]
      val s = NameMatchV2.traceSink.withValue(sink) {
        Algorithms.LogicV2.score(spec.view(c.schema, c.name1),
          spec.view(c.schema, c.name2))
      }
      val best = sink.toList.maxByOption(ms =>
        if (ms.map(_._4).sum <= 0) 0.0
        else ms.map(m => m._3 * m._4).sum / ms.map(_._4).sum)
      val edges = best.getOrElse(Nil).map {
        case (Some(q), Some(r), sc, w) => f"M|$q~$r|$sc%.4f|$w%.4f"
        case (Some(q), None, _, w) => f"Q|$q|0|$w%.4f"
        case (None, Some(r), _, w) => f"R|$r|0|$w%.4f"
        case _ => "?"
      }.mkString(";")
      out.println(f"$i\t${c.schema}\t${c.frozenScore}%.4f\t$s%.6f\t" +
        f"${c.name1}\t${c.name2}\t$edges")
    } finally out.close()
    info("wrote target/name_bench_fit.tsv")
  }
}
