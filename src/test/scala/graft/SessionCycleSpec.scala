package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived JVM that cycles SparkSessions must not keep the stopped
  * ones reachable from the engine's session memo. Stopping a session
  * would break the shared [[SparkSpec.spark]] for every later suite in
  * this JVM, so the cycle runs in a child JVM ([[SessionCycleChild]]).
  */
class SessionCycleSpec extends AnyFunSuite {

  test("a stopped session leaves no memo entry behind") {
    val tmp = Paths.get(SparkSpec.tempDir("graft-session-cycle"))
    val log = tmp.resolve("child.log")
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString,
      "-Xmx1g", "-cp", sys.props("java.class.path")) ++ opens ++ Seq(
      s"-Dgraft.index.dir=${tmp.resolve("index")}",
      "graft.SessionCycleChild", tmp.resolve("data").toString)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    if (!p.waitFor(240, TimeUnit.SECONDS)) p.destroyForcibly()
    val out = Files.readAllLines(log).asScala
    val keys = out.collectFirst {
      case SessionCycleChild.Result(dead, live) => (dead.toInt, live.toInt)
    }
    assert(keys.nonEmpty, out.takeRight(30).mkString("\n"))
    val (dead, live) = keys.get
    assert(live > 0, "the probe found no memo entry of the live session")
    assert(dead === 0, "memo entries still keyed by the stopped session")
  }
}

/** Child of [[SessionCycleSpec]]: touches `Tables.read` and an
  * `IndexLake.artifact` in one session, stops it, does the same in a
  * new session, and prints how many keys of the memo maps held by
  * `Caches`, `IndexLake` and `Tables` name the stopped session and the
  * live one. Usage: `SessionCycleChild <scratch-dir>`, with
  * `-Dgraft.index.dir` pointing at a scratch artifact root.
  */
object SessionCycleChild {
  val Result = """memo keys: dead=(\d+) live=(\d+)""".r

  private def session(): SparkSession = {
    val s = SparkSession.builder().master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .appName("graft-session-cycle").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def touch(s: SparkSession, dir: String): Unit = {
    Tables.region(s, dir).count()
    IndexLake.artifact(s, dir, "session_cycle_probe")(
      Tables.region(s, dir)).count()
  }

  /** Every key of every Map-valued field of the named objects. */
  private def memoKeys(objects: Seq[String]): Seq[Any] =
    objects.flatMap { name =>
      val cls = Class.forName(name)
      val module = cls.getField("MODULE$").get(null)
      cls.getDeclaredFields.toSeq.flatMap { f =>
        f.setAccessible(true)
        f.get(module) match {
          case m: scala.collection.Map[_, _] => m.keys.toSeq
          case m: java.util.Map[_, _] => m.keySet.asScala.toSeq
          case _ => Nil
        }
      }
    }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val first = session()
    first.range(3).toDF("r_regionkey")
      .write.parquet(s"$dir/region.parquet")
    touch(first, dir)
    first.stop()
    val second = session()
    touch(second, dir)
    val sessions = memoKeys(Seq("graft.Caches$", "graft.IndexLake$",
      "graft.Tables$")).flatMap {
      case k: Product => k.productIterator.toSeq
      case k => Seq(k)
    }.collect { case s: SparkSession => s }
    println(s"memo keys: dead=${sessions.count(_ eq first)} " +
      s"live=${sessions.count(_ eq second)}")
    second.stop()
  }
}
