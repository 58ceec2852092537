package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** [[Soak.run]] on the suite's shared session: each record parses as
  * JSON under de_DE with its mode's keys in order, and the run leaves
  * the session alive with no listener and no persisted RDD of its own
  * behind.
  */
class SoakSpec extends AnyFunSuite {
  import SparkSpec.{listeners, spark}

  private val sf = "/root/testdata/sf0.001"

  private def soak(args: String*): JsonNode = {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    // the session's first query registers Spark's SQL status listener
    spark.range(1).count()
    val before = listeners
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val line = Soak.run(spark, args.toArray)
      assert(!spark.sparkContext.isStopped)
      assert(listeners === before)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
      assert(left.isEmpty, s"RDDs left persisted: ${left.mkString(", ")}")
      new ObjectMapper().readTree(line)
    } finally Locale.setDefault(prev)
  }

  private def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  test("merge: one record with the merge keys, deltas at three sizes") {
    val r = soak(sf, "1", "merge")
    assert(keys(r) === Seq("soak", "sf", "replicas", "base_rows",
      "init_wall_sec", "deltas", "snapshot_rows", "snapshot_wall_sec",
      "compact_wall_sec", "touched_buckets", "shuffle_write_mb"))
    assert(r.get("soak").asText === "merge")
    assert(r.get("base_rows").asLong > 0)
    assert(r.get("snapshot_rows").asLong === r.get("base_rows").asLong)
    assert(r.get("deltas").size === 3)
    assert(keys(r.get("deltas").get(0)) === Seq("rows", "append_wall_sec"))
    assert(r.get("init_wall_sec").isNumber)
  }

  test("dedup: one record with the dedup keys and whole-run shuffle") {
    val r = soak(sf, "2", "dedup")
    assert(keys(r) === Seq("soak", "sf", "replicas", "docs", "hot_buckets",
      "prevented_pairs", "cand_pairs", "verified_pairs", "wall_sec",
      "substr_docs", "substr_wall_sec", "shuffle_write_mb",
      "peak_stage_shuffle_mb"))
    assert(r.get("replicas").asInt === 2)
    assert(r.get("docs").asLong > 0)
    assert(r.get("shuffle_write_mb").asDouble > 0.0)
    assert(r.get("peak_stage_shuffle_mb").asDouble <=
      r.get("shuffle_write_mb").asDouble)
  }

  test("resolve: 100k vertices fold three batches to the full re-cluster") {
    val r = soak(sf, "1", "resolve")
    assert(keys(r) === Seq("soak", "replicas", "vertices", "base_edges",
      "init_wall_sec", "deltas", "full_recluster_wall_sec",
      "state_mismatches"))
    assert(r.get("vertices").asLong === 100000L)
    assert(keys(r.get("deltas").get(0)) ===
      Seq("edges", "apply_wall_sec", "shuffle_mb"))
    assert(r.get("state_mismatches").asLong === 0L)
  }

  test("xref and curate: records carry Janino compile time next to compiles") {
    for ((mode, before) <- Seq("xref" -> "merges", "curate" -> "shuffle_write_mb")) {
      val r = soak(sf, "1", mode)
      val ks = keys(r)
      assert(ks.indexOf("compile_ms") === ks.indexOf("compiles") + 1, ks)
      assert(ks.indexOf(before) === ks.indexOf("compile_ms") + 1, ks)
      assert(r.get("compile_ms").isNumber, mode)
      assert(r.get("compile_ms").asDouble >= 0.0, mode)
    }
  }

  test("an unknown mode throws the usage text before any job") {
    val before = listeners
    val e = intercept[IllegalArgumentException](
      Soak.run(spark, Array(sf, "1", "loop")))
    assert(e.getMessage.contains("unknown soak mode 'loop'"))
    assert(e.getMessage.contains(Soak.Usage))
    assert(listeners === before)
  }
}
