package graft.functions

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The xref and curate paths never initialize Spark's
  * `CollationAwareUTF8String`, whose static initializer title-cases
  * every code point on the first `lower`/`upper` of a JVM. The suite's
  * own JVM has long since initialized it, so the paths run in a child
  * JVM ([[CaseMapGuardChild]]), which also checks that its probe sees
  * the class initialized once Spark's own `lower` has run.
  */
class CaseMapGuardSpec extends AnyFunSuite {

  test("xref and curate leave CollationAwareUTF8String uninitialized") {
    val tmp = Paths.get(graft.SparkSpec.tempDir("graft-case-guard"))
    val log = tmp.resolve("child.log")
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString,
      "-Xmx1g", "-cp", sys.props("java.class.path")) ++ opens ++ Seq(
      s"-Dgraft.index.dir=${tmp.resolve("index")}",
      s"-Djava.io.tmpdir=$tmp", "graft.functions.CaseMapGuardChild")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    if (!p.waitFor(300, TimeUnit.SECONDS)) p.destroyForcibly()
    val out = Files.readAllLines(log).asScala
    val seen = out.collect {
      case CaseMapGuardChild.Result(stage, init) => stage -> init.toBoolean
    }.toMap
    assert(seen.size === 3, out.takeRight(30).mkString("\n"))
    assert(!seen("xref"), "the xref path initialized the class")
    assert(!seen("curate"), "the curate path initialized the class")
    assert(seen("spark-lower"), "the probe missed Spark's own lower")
  }
}

/** Child of [[CaseMapGuardSpec]]: runs `Xref.run` (tokenizer, blocker,
  * scorers) on the xref test corpus and `CurateMain.run` (word
  * tokenizer, dedup, language model) on a few documents, then Spark's
  * own `lower`, printing after each whether `CollationAwareUTF8String`
  * has been initialized.
  */
object CaseMapGuardChild {
  val Result = """collation table after (\S+): initialized=(true|false)""".r

  private val Collation =
    "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"

  /** Whether the class has run its static initializer, asked without
    * running it.
    */
  private def initialized(): Boolean = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    val unsafe = f.get(null).asInstanceOf[sun.misc.Unsafe]
    !unsafe.shouldBeInitialized(
      Class.forName(Collation, false, getClass.getClassLoader))
  }

  private def report(stage: String): Unit =
    println(s"collation table after $stage: initialized=${initialized()}")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("graft-case-guard").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val decided = Seq.empty[(String, String)].toDF("src", "dst")
      val (merges, suggest) = graft.xref.Xref.run(spark,
        graft.xref.XrefCorpus.statements(spark), decided,
        graft.xref.Xref.Config(algorithm = "logic-v1",
          autoThreshold = Some(0.6)))
      merges.count(); suggest.count()
      report("xref")

      val texts = Seq(
        "The quick brown fox jumps over the lazy dog near the river bank.",
        "The quick brown fox jumps over the lazy dog near the river bank.",
        "A quick brown fox jumped over a lazy dog near the river banks.",
        "İstanbul STRAßE Kelvin ΟΔΟΣ and other words of the corpus.",
        "Markets opened higher on Monday as investors weighed the news.")
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "guard") }
        .toDF("doc_id", "text", "lang", "source")
      val (curated, _) = graft.cli.CurateMain.run(spark, docs,
        minQuality = 0.0, minLogp = -100.0)
      curated.count()
      report("curate")

      spark.range(3).select(F.lower(F.concat(F.lit("A"), $"id".cast("string"))))
        .collect()
      report("spark-lower")
    } finally spark.stop()
  }
}
