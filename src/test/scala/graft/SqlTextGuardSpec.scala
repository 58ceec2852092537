package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The xref and curate paths build their expressions as objects and
  * parse no SQL text: a `Column.cast("…")` runs Spark's ANTLR data-type
  * parser on every call, and an `expr("… div …")` its expression
  * parser. This source guard fails on either form in the files those
  * paths run (`Xref.run` → `CliArgs.canonicalMapOf` →
  * `CliArgs.applyCanonical` → `EntityStore.assemble`, and
  * `CurateMain.run`).
  */
class SqlTextGuardSpec extends AnyFunSuite {

  private val PathFiles = Seq(
    "blocker/Blocker.scala", "blocker/EntityTokenizer.scala",
    "matching/EntityMatch.scala", "matching/Features.scala",
    "xref/Xref.scala", "resolver/Resolver.scala", "cli/Cli.scala",
    "store/EntityStore.scala", "cli/Curate.scala",
    "textanalysis/Curation.scala", "textanalysis/TextAnalysis.scala",
    "textanalysis/LangModel.scala", "dedup/DedupQueries.scala",
    "dedup/Dedup.scala", "functions/EntityTokens.scala")

  private def source(f: String): String =
    new String(Files.readAllBytes(Paths.get("src/main/scala/graft", f)),
      "UTF-8")

  /** The text of each `expr(…)` call, up to its closing parenthesis. */
  private def exprCalls(s: String): Seq[String] =
    "\\bexpr\\(".r.findAllMatchIn(s).map { m =>
      var depth = 1
      var i = m.end
      while (i < s.length && depth > 0) {
        if (s.charAt(i) == '(') depth += 1
        else if (s.charAt(i) == ')') depth -= 1
        i += 1
      }
      s.substring(m.start, i)
    }.toSeq

  test("the xref and curate paths cast to DataTypes and divide without SQL") {
    val found = PathFiles.flatMap { f =>
      val s = source(f)
      val casts = s.linesIterator.filter(_.contains(".cast(\"")).toSeq
      val divs = exprCalls(s).filter(_.matches("(?s).*\\bdiv\\b.*"))
      (casts ++ divs).map(hit => s"$f: ${hit.trim}")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the guard sees both forms") {
    val bad = "x.cast(\"long\")\nexpr(\"(a + \" +\n  s\"b) div 2\")"
    assert(bad.linesIterator.exists(_.contains(".cast(\"")))
    assert(exprCalls(bad).exists(_.matches("(?s).*\\bdiv\\b.*")))
  }
}
