package graft

import java.util.Locale

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.run]] on the suite's shared session: the printed line and
  * the file record parse as JSON whatever the JVM's default locale,
  * every query carries its lap fields, the printed line stays within a
  * log tail, and the run leaves no listener behind.
  */
class BenchSpec extends AnyFunSuite {
  import SparkSpec.{listeners, spark}

  private val sf = "/root/testdata/sf0.001"
  private val LapFields = Seq("wall_sec", "jobs", "stages", "shuffle_bytes",
    "peak_stage_bytes", "cpu_sec", "compiles")

  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)

  private def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  private def underGermany[A](body: => A): A = {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try body finally Locale.setDefault(prev)
  }

  test("the result line keeps a dot decimal separator under de_DE") {
    // the session's first query registers Spark's SQL status listener
    spark.range(1).count()
    val before = listeners
    val names = Seq("q_anti_join", "q_agg_pricing")
    val (line, file) = underGermany {
      val r = Bench.run(spark, sf, names)
      (Record.json(r.line), Record.json(r.record))
    }
    assert(!spark.sparkContext.isStopped)
    assert(listeners === before)

    val l = parse(line)
    val sorted = names.sorted
    // a `,` decimal separator would split each wall into two numbers
    assert(l.get("queries").size === 2, line)
    assert(l.get("queries").asScala.forall(_.isNumber))
    assert(math.abs(l.get("value").asDouble -
      l.get("queries").asScala.map(_.asDouble).sum) <= 0.002)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sorted.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(l.get("names_sha256").asText === sha)
    assert(l.get("failed").size === 0)
    assert(l.get("index_build_sec").isNumber)

    val f = parse(file)
    assert(keys(f.get("queries")) === sorted)
    for (q <- sorted) {
      val lap = f.get("queries").get(q)
      assert(keys(lap) === LapFields, q)
      assert(lap.get("jobs").asLong > 0, q)
      assert(lap.get("cpu_sec").asDouble > 0.0, q)
    }
    assert(keys(f.get("index_build")) === LapFields)
    assert(f.get("queries").get(sorted(0)).get("wall_sec").asDouble ===
      l.get("queries").get(0).asDouble)
  }

  test("the printed line for 137 queries stays within 2,000 characters") {
    val lap = Profile.Lap(999.999, 99999L, 99999L, 1L << 40, 1L << 40,
      Nil, 9999.999, 99999L, 99999.999)
    val names = (1 to 137).map(i => f"q_synthetic_query_name_$i%03d")
    val r = Bench.Run("sf0.1", names.map(_ -> lap), Nil, lap)
    val machine = ListMap("ambient_gate" -> "failed",
      "loadavg_pre" -> 99.999, "probe_64mib_pre" -> 99.999,
      "loadavg" -> 99.999, "probe_64mib_sec" -> 99.999)
    val line = underGermany(Record.json(r.line ++ machine))
    assert(line.length <= 2000, s"${line.length} characters")
    assert(parse(line).get("queries").size === 137)
    // the keyed record is the one that grows with the names
    assert(Record.json(r.record).length > 2000)
  }

  test("an unknown SPARK_GRAFT_ONLY name throws before any job") {
    assert(SparkEntry.only(Some(" q_anti_join , q_agg_pricing,")) ===
      Seq("q_agg_pricing", "q_anti_join"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.only(Some("q_agg_pricing, q_nope")))
    assert(e.getMessage.contains("q_nope"))

    spark.range(1).count()
    val before = listeners
    val prof = Profile.attach(spark)
    try {
      val e2 = intercept[IllegalArgumentException](
        Bench.run(spark, sf, Seq("q_agg_pricing", "q_nope")))
      assert(e2.getMessage.contains("q_nope"))
      assert(prof.total().jobs === 0L)
    } finally spark.sparkContext.removeSparkListener(prof)
    assert(listeners === before)
  }

  test("oracle_sql.json round-trips control characters byte for byte") {
    val sql = "SELECT '\t' AS tab,\r\n '\"q\"' AS quote, '\u0001' AS soh, " +
      "'back\\slash' AS bs"
    val json = Verify.oracleJson(Map("q_b" -> "SELECT 1", "q_a" -> sql))
    assert(!json.exists(_ < ' '), json)
    val back = parse(json)
    assert(keys(back) === Seq("q_a", "q_b"))
    assert(back.get("q_a").asText === sql)
  }
}
