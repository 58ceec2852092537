package graft.cli

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Profile, SparkSpec}

/** Every driver takes its session from [[CliArgs.session]] and profiles
  * stages through [[Profile]]: a live session is reused untouched, and
  * no second session builder or listener appears in `src/main`. Every
  * Hadoop rename — the commit point of a stored state — sits in one of
  * the two publish routines: [[graft.store.ManifestLog]]'s commit and
  * [[graft.IndexLake]]'s publish. [[graft.Soak]] times through the
  * profiler and formats no float by hand, and the CLI's one `main` and
  * one session stop are [[Nk]]'s. Every top-level type of `src/main` is
  * an entry point or named by the code, not only by specs.
  */
class SessionSpec extends AnyFunSuite {
  import SparkSpec.spark

  test("CliArgs.session returns a live session with its confs untouched") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before === "4")
    assert(CliArgs.session("probe") eq spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("Profile laps bill a job to its own lap, then start from zero") {
    val p = Profile.attach(spark)
    try {
      p.lap()
      spark.range(1000).repartition(3, col("id")).count()
      val l = p.lap()
      assert(l.jobs >= 1 && l.stages >= 2)
      assert(l.shuffleBytes > 0 && l.peakStageBytes <= l.shuffleBytes)
      assert(l.stageInfos.isEmpty) // not attached with keepStages
      val idle = p.lap()
      assert((idle.jobs, idle.stages, idle.shuffleBytes) === ((0L, 0L, 0L)))
      // the since-attach totals ignore the laps taken in between
      val t = p.total()
      assert((t.jobs, t.shuffleBytes, t.peakStageBytes) ===
        ((l.jobs, l.shuffleBytes, l.peakStageBytes)))
    } finally spark.sparkContext.removeSparkListener(p)
  }

  test("Profile laps count process CPU and Janino compiles") {
    val p = Profile.attach(spark)
    try {
      p.lap()
      // a literal no earlier query used: its generated class is new
      // source, so Spark's codegen cache cannot serve it
      val tag = System.nanoTime()
      spark.range(5000).select((col("id") * lit(tag) % 7).as("m"))
        .agg(sum(col("m"))).collect()
      val l = p.lap()
      assert(l.cpuS > 0.0 && l.compiles >= 1, l)
      val t = p.total()
      assert(t.cpuS >= l.cpuS && t.compiles >= l.compiles)
    } finally spark.sparkContext.removeSparkListener(p)
  }

  private val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** Files of `src/main` holding `needle`, with their counts. */
  private def holders(needle: String): Map[String, Int] = {
    assert(Files.isDirectory(root), s"$root not found")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.map { f: Path =>
        root.relativize(f).toString ->
          java.util.regex.Pattern.quote(needle).r
            .findAllIn(Files.readString(f)).size
      }.filter(_._2 > 0).toMap
  }

  test("src/main builds sessions only in CliArgs and listens only in Profile") {
    assert(holders("SparkSession.builder") ===
      Map("graft/cli/Cli.scala" -> 1))
    assert(holders("extends SparkListener") ===
      Map("graft/Profile.scala" -> 1))
    assert(holders("new SparkListener").isEmpty)
  }

  test("graft/cli has one main and one session stop, both in Nk") {
    def inCli(needle: String) = holders(needle).filter(_._1.startsWith("graft/cli/"))
    assert(inCli("def main(") === Map("graft/cli/Nk.scala" -> 1))
    assert(inCli(".stop()") === Map("graft/cli/Nk.scala" -> 1))
  }

  test("Soak times through Profile and renders through its one writer") {
    val soak = Files.readString(root.resolve("graft/Soak.scala"))
    assert(!soak.contains("System.nanoTime"))
    assert("%\\.\\d+f".r.findFirstIn(soak).isEmpty)
  }

  /** Scala code with its comments, string and char literals blanked. */
  private def codeOnly(src: String): String =
    """'(?:\\.|[^'\\])'|"{3}[\s\S]*?"{3}|"[^"\\\n]*(?:\\.[^"\\\n]*)*"|//[^\n]*|/\*[\s\S]*?\*/""".r
      .replaceAllIn(src, " ")

  test("src/main calls lower/upper only through TextExpressions") {
    // `functions._` brings Spark's own pair, which initializes
    // CollationAwareUTF8String; only the explicit import of the kernel
    // beside it routes a bare `lower(`/`upper(` to `CaseMap`.
    val sparkFns = "import org.apache.spark.sql.functions."
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.flatMap { f: Path =>
        val rel = root.relativize(f).toString
        val src = Files.readString(f)
        val code = codeOnly(src)
        val bare = "(?<![\\w.])(lower|upper)\\(".r
          .findAllMatchIn(code).map(_.group(1)).toSet
        val routed = bare.filter { n =>
          s"import graft\\.functions\\.TextExpressions\\.(_|$n\\b|\\{[^}]*\\b$n\\b)".r
            .findFirstIn(src).isDefined
        }
        val qualified = "\\b(\\w+)\\.(lower|upper)\\(".r.findAllMatchIn(code)
          .filter(_.group(1) != "TextExpressions").map(_.matched).toList
        if (rel == "graft/functions/TextExpressions.scala" ||
            !src.contains(sparkFns)) Nil
        else (bare -- routed).toList.map(n => s"$rel: bare $n(") ++
          qualified.map(q => s"$rel: $q")
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every top-level src/main type is named outside its declaration") {
    // an entry point is an object with a `main`; anything else that no
    // code in src/main or perfbench/src names is reached only by specs
    def code(dir: Path): List[String] =
      Files.walk(dir).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
        .map(f => codeOnly(Files.readString(f)))
    val main = code(root)
    val bench = code(Paths.get(sys.props("user.dir"), "perfbench", "src"))
    val decl = ("(?m)^(?:(?:final|sealed|abstract|case|implicit|" +
      "private(?:\\[\\w+\\])?)\\s+)*(object|class|trait)\\s+(\\w+)").r
    val declared = main.flatMap { src =>
      val ds = decl.findAllMatchIn(src).toList
      ds.zip(ds.drop(1).map(_.start) :+ src.length).map { case (m, end) =>
        val body = src.substring(m.end, end)
        (m.group(1), m.group(2), body.contains("def main("))
      }
    }
    val declarations = declared.groupBy(_._2).view.mapValues(_.size).toMap
    val named = (main ++ bench).flatMap("\\b[A-Z]\\w*".r.findAllIn(_))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(declared.size > 100, s"found only ${declared.size} declarations")
    val unreached = declared.collect {
      case (kind, name, withMain) if !(kind == "object" && withMain) &&
          named.getOrElse(name, 0) <= declarations(name) => s"$kind $name"
    }
    assert(unreached.isEmpty, unreached.mkString("\n"))
  }

  test("src/main renames only in the manifest log and the IndexLake publish") {
    assert(holders(".rename(").keySet ===
      Set("graft/store/ManifestLog.scala", "graft/IndexLake.scala"))
  }
}
