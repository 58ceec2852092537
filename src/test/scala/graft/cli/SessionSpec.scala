package graft.cli

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{Profile, SparkSpec}

/** Every driver takes its session from [[CliArgs.session]] and profiles
  * stages through [[Profile]]: a live session is reused untouched, and
  * no second session builder or listener appears in `src/main`. Every
  * Hadoop rename — the commit point of a stored state — sits in one of
  * the two publish routines: [[graft.store.ManifestLog]]'s commit and
  * [[graft.IndexLake]]'s publish. [[graft.Soak]] times through the
  * profiler and formats no float by hand, and the CLI's one `main` and
  * one session stop are [[Nk]]'s.
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

  test("src/main renames only in the manifest log and the IndexLake publish") {
    assert(holders(".rename(").keySet ===
      Set("graft/store/ManifestLog.scala", "graft/IndexLake.scala"))
  }
}
