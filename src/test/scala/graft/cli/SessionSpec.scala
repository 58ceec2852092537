package graft.cli

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{Profile, SparkSpec}

/** Every driver takes its session from [[CliArgs.session]] and profiles
  * stages through [[Profile]]: a live session is reused untouched, and
  * no second session builder or listener appears in `src/main`.
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
    } finally spark.sparkContext.removeSparkListener(p)
  }

  test("src/main builds sessions only in CliArgs and listens only in Profile") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    def holders(needle: String): Map[String, Int] = files.map { f: Path =>
      root.relativize(f).toString ->
        java.util.regex.Pattern.quote(needle).r
          .findAllIn(Files.readString(f)).size
    }.filter(_._2 > 0).toMap
    assert(holders("SparkSession.builder") ===
      Map("graft/cli/Cli.scala" -> 1))
    assert(holders("extends SparkListener") ===
      Map("graft/Profile.scala" -> 1))
    assert(holders("new SparkListener").isEmpty)
  }
}
