package graft.cli

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}

/** The operational CLI surface, driven through [[Nk.run]] on the
  * shared test session: the donations dedupe must run as a command, 474 in →
  * fewer out with the Johanna Quandt duplicate merged; xref + apply +
  * sorted-aggregate must compose to the same result.
  */
class CliSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")
  private def tmp(name: String) =
    SparkSpec.tempDir(s"cli-$name") + "/out"

  test("dedupe main: donations ijson in, merged ijson out") {
    val out = tmp("dedupe")
    Nk.run(spark, Array("dedupe", fixture, out, "--dataset", "donations"))
    val lines = spark.read.text(out)
    val n = lines.count()
    assert(n > 0 && n < 474, s"expected <474 merged entities, got $n")
    val parsed = spark.read.json(out)
    val j = parsed.filter(array_contains(
      col("properties.name"), "Johanna Quandt"))
    assert(j.count() === 1)
    assert(j.filter(array_contains(
      col("properties.name"), "Frau Johanna Quandt")).count() === 1,
      "Johanna duplicate did not merge into one ijson line")
  }

  test("xref + apply + sorted-aggregate compose to the dedupe result") {
    val xrefOut = tmp("xref")
    Nk.run(spark, Array("xref", fixture, xrefOut, "--dataset", "donations",
      "--algorithm", "regression-v1", "--auto-threshold", "0.5"))
    val merges = spark.read.parquet(s"$xrefOut/merges")
    assert(merges.count() > 0)
    assert(spark.read.parquet(s"$xrefOut/suggestions").count() > 0)

    val applyOut = tmp("apply")
    Nk.run(spark, Array("apply", fixture, applyOut, "--dataset", "donations",
      "--edges", s"$xrefOut/merges"))
    val canonical = spark.read.parquet(applyOut)
    // all 474 source entities survive, under fewer canonical ids
    assert(canonical.select("entity_id").distinct().count() === 474)
    assert(canonical.select("canonical_id").distinct().count() < 474)

    val aggOut = tmp("agg")
    Nk.run(spark, Array("sorted-aggregate", applyOut, aggOut))
    val n = spark.read.text(aggOut).count()
    assert(n === canonical.select("canonical_id").distinct().count())
  }

  test("applyCanonical builds one broadcast relation for both lookups") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    val dir = tmp("apply-canonical")
    Seq(("s1", "a", "name", "name", "Acme"),
      ("s2", "b", "name", "name", "ACME"),
      ("s3", "c", "owner", "entity", "a"),
      ("s4", "c", "owner", "entity", "z"),
      ("s5", "b", "note", "text", "b"),
      ("s6", "d", "owner", "entity", null))
      .toDF("id", "canonical_id", "prop", "prop_type", "value")
      .write.parquet(dir)
    val stmts = spark.read.parquet(dir)
    val cm = CliArgs.canonicalMapOf(Seq(("b", "a")).toDF("src", "dst"))
      .localCheckpoint(true)
    // the two-relation form: one broadcast per lookup
    val byId = broadcast(cm.select(col("member"),
      col("canonical").as("_new_cid")))
    val byVal = broadcast(cm.select(col("member").as("_vmember"),
      col("canonical").as("_new_val")))
    val want = stmts
      .join(byId, stmts("canonical_id") === byId("member"), "left_outer")
      .withColumn("canonical_id", coalesce(col("_new_cid"), col("canonical_id")))
      .drop("member", "_new_cid")
      .join(byVal, col("prop_type") === "entity" &&
        col("value") === col("_vmember"), "left_outer")
      .withColumn("value", coalesce(col("_new_val"), col("value")))
      .drop("_vmember", "_new_val")
    val got = CliArgs.applyCanonical(stmts, cm)
    assert(got.columns.toSeq === stmts.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.head)
    assert(rows(got) === rows(want))
    // "b" outranks "a" (same weight, larger id): both rewrite to it
    assert(got.filter(col("id").isin("s1", "s3"))
      .select("canonical_id", "value").collect().map(_.toSeq).toSet ===
      Set(Seq("b", "Acme"), Seq("c", "b")))
    val plans = new AdaptiveSparkPlanHelper {}
    val p = got.queryExecution.executedPlan
    assert(plans.collect(p) { case b: BroadcastExchangeExec => b }.size === 1, p)
    assert(plans.collect(p) { case r: ReusedExchangeExec => r }.size === 1, p)
  }

  test("match main ranks the Johanna Quandt duplicate first") {
    import spark.implicits._
    val stmts = CliArgs.readStatements(spark, fixture, "donations")
    val captions = graft.store.EntityStore.assemble(stmts)
      .select(col("id"), col("caption"))
    val jqId = captions.filter(col("caption") === "Johanna Quandt")
      .head.getString(0)
    val qDir = tmp("q").stripSuffix("/out")
    stmts.filter(col("canonical_id") === jqId)
      .write.mode("overwrite").parquet(s"$qDir/query")
    stmts.filter(col("canonical_id") =!= jqId)
      .write.mode("overwrite").parquet(s"$qDir/index")
    val out = tmp("match")
    Nk.run(spark, Array("match", s"$qDir/query", s"$qDir/index", out))
    val top = spark.read.parquet(out)
      .orderBy(col("match_score").desc).head
    val fjqId = captions.filter(col("caption") === "Frau Johanna Quandt")
      .head.getString(0)
    assert(top.getString(1) === fjqId)
  }

  test("enrich main writes candidates and expanded statements") {
    import spark.implicits._
    val stmts = CliArgs.readStatements(spark, fixture, "donations")
    val captions = graft.store.EntityStore.assemble(stmts)
      .select(col("id"), col("caption"))
    val jqId = captions.filter(col("caption") === "Johanna Quandt")
      .head.getString(0)
    val dir = tmp("enr").stripSuffix("/out")
    stmts.filter(col("canonical_id") === jqId)
      .write.mode("overwrite").parquet(s"$dir/query")
    stmts.filter(col("canonical_id") =!= jqId)
      .write.mode("overwrite").parquet(s"$dir/mirror")
    val out = tmp("enrich")
    Nk.run(spark, Array("enrich", s"$dir/query", s"$dir/mirror", out,
      "--cutoff", "0.5"))
    assert(spark.read.parquet(s"$out/candidates").count() > 0)
    val pulled = spark.read.parquet(s"$out/statements")
    assert(pulled.filter(col("schema") === "Address").count() > 0)

    // the same run driven by a reference-shaped enricher config file
    val cfgPath = s"$dir/enricher.yml"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfgPath),
      ("name: donations-test\n" +
        "type: nomenklatura.enrich.yente:YenteEnricher\n" +
        "api: https://svc.example/\n" +
        "dataset: donations\n" +
        "strip_namespace: false\n" +
        "cache_days: 30\n").getBytes("UTF-8"))
    val out2 = tmp("enrich_cfg")
    Nk.run(spark, Array("enrich", s"$dir/query", s"$dir/mirror", out2,
      "--cutoff", "0.5", "--config", cfgPath))
    val cands2 = spark.read.parquet(s"$out2/candidates")
    assert(cands2.count() > 0)
    // the config's api endpoint reaches the emitted source urls
    assert(cands2.head.getString(4).startsWith(
      "https://svc.example/entities/"))
  }

  test("resolver dump/load round-trip and prune via mains") {
    import spark.implicits._
    val edges = Seq(
      ("NK-c1", "a", "positive", 0.9, "test", "2024-01-01"),
      ("NK-c1", "b", "positive", 0.8, "test", "2024-01-02"),
      ("a", "b", "suggested", 0.7, "test", "2024-01-03"))
      .toDF("target", "source", "judgement", "score", "user",
        "created_at")
      .withColumn("deleted_at", lit(null).cast("string"))
    val dir = tmp("res").stripSuffix("/out")
    edges.write.mode("overwrite").parquet(s"$dir/edges")

    Nk.run(spark, Array("dump-resolver", s"$dir/edges", s"$dir/dump"))
    Nk.run(spark, Array("load-resolver", s"$dir/dump", s"$dir/loaded"))
    val rt = spark.read.parquet(s"$dir/loaded")
    assert(rt.count() === 3)
    assert(rt.filter(col("judgement") === "positive").count() === 2)

    Nk.run(spark, Array("prune", s"$dir/edges", s"$dir/pruned"))
    val pruned = spark.read.parquet(s"$dir/pruned")
    // the suggestion between two co-clustered members is redundant
    assert(pruned.filter(col("judgement") === "suggested").count() === 0)
    assert(pruned.filter(col("judgement") === "positive").count() > 0)
  }

  test("resolve-state mains: init, O(affected) add, state read-back") {
    import spark.implicits._
    val dir = tmp("resolve-state").stripSuffix("/out")
    Seq(("b", "c"), ("x", "y")).toDF("src", "dst")
      .write.mode("overwrite").parquet(s"$dir/edges")
    Seq(("c", "a")).toDF("src", "dst")
      .write.mode("overwrite").parquet(s"$dir/delta")
    Nk.run(spark, Array("resolve-state", "init", s"$dir/edges", s"$dir/state"))
    Nk.run(spark,
      Array("resolve-state", "add", s"$dir/delta", s"$dir/state", "--ts", "t1"))
    Nk.run(spark, Array("resolve-state", "state", s"$dir/state", s"$dir/out"))
    val got = spark.read.parquet(s"$dir/out").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the delta merged {b,c} with new vertex 'a' (the new min label);
    // {x,y} untouched
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("make-sortable emits id-ordered ijson that aggregates cleanly") {
    val out = tmp("sortable")
    Nk.run(spark, Array("make-sortable", fixture, out, "--dataset", "donations"))
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.length === 474)
    assert(lines.toSeq === lines.toSeq.sorted)
  }

  test("train main exports a loadable JSON model") {
    import spark.implicits._
    val stmts = CliArgs.readStatements(spark, fixture, "donations")
    val captions = graft.store.EntityStore.assemble(stmts)
      .select(col("id"), col("caption"))
    val jqId = captions.filter(col("caption") === "Johanna Quandt")
      .head.getString(0)
    val fjqId = captions.filter(col("caption") === "Frau Johanna Quandt")
      .head.getString(0)
    val sklId = captions.filter(col("caption") === "Frau Lina Dachner")
      .head.getString(0)
    val dir = tmp("train").stripSuffix("/out")
    Seq((jqId, fjqId, 1.0), (jqId, sklId, 0.0), (fjqId, sklId, 0.0))
      .toDF("lid", "rid", "label")
      .write.mode("overwrite").parquet(s"$dir/pairs")
    Nk.run(spark, Array("train", s"$dir/pairs", fixture, s"$dir/model.json",
      "--epochs", "30"))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/model.json")), "UTF-8")
    val loaded = graft.matching.ModelIO.fromJson(json)
    assert(loaded.algorithm === graft.matching.Algorithms.dedupe.name)
    assert(loaded.features.nonEmpty)
  }

  private def writeWriteBackFixture(dir: String): (String, String) = {
    import spark.implicits._
    val entities = s"$dir/entities.ijson"
    Files.write(java.nio.file.Paths.get(entities), java.util.Arrays.asList(
      """{"id":"p1","schema":"Person","properties":{"name":["Johanna Quandt"]}}""",
      """{"id":"p2","schema":"Person","properties":{"name":["Stefan Quandt"],"wikidataId":["Q77951"],"birthDate":["1966"]}}""",
      """{"id":"p3","schema":"Person","properties":{"name":["Nobody Such"]}}"""))
    val snaks = s"$dir/snaks"
    Seq(
      ("Q1", "main", "P31", "Q5", null),
      ("Q1", "label", null, null, "Johanna Quandt"),
      ("Q77951", "main", "P31", "Q5", null),
      ("Q77951", "label", null, null, "Stefan Quandt"))
      .toDF("qid", "role", "prop", "vEntity", "vString")
      .write.mode("overwrite").parquet(snaks)
    (entities, snaks)
  }

  test("reconcile main runs the write-back loop from files") {
    val dir = tmp("reconcile").stripSuffix("/out")
    val (entities, snaks) = writeWriteBackFixture(dir)
    Nk.run(spark, Array("reconcile", entities, snaks, s"$dir/out",
      "--retrieved", "2024-06-01"))
    val decisions = spark.read.parquet(s"$dir/out/decisions").collect()
      .map(r => r.getAs[String]("entity_id") ->
        r.getAs[String]("decision")).toMap
    assert(decisions === Map(
      "p1" -> "merge", "p2" -> "enrich", "p3" -> "create"))
    val edges = spark.read.parquet(s"$dir/out/edges").collect()
    assert(edges.length === 1)
    assert(edges.head.getAs[String]("target") === "p1")
    assert(edges.head.getAs[String]("source") === "Q1")
    val qs = spark.read.text(s"$dir/out/batch.qs")
      .collect().map(_.getString(0))
    // p2 enriches its linked item (missing birth date), p3 creates
    assert(qs.exists(_.startsWith(
      "Q77951\tP569\t+1966-01-01T00:00:00Z/9")))
    assert(qs.count(_ === "CREATE") === 1)
    assert(qs.exists(_.contains("\tLmul\t\"Nobody Such\"")))
  }

  test("propose main emits a QuickStatements batch from files") {
    import spark.implicits._
    val dir = tmp("propose").stripSuffix("/out")
    val (entities, snaks) = writeWriteBackFixture(dir)
    Seq(("p1", "Q1")).toDF("entity_id", "qid")
      .write.mode("overwrite").parquet(s"$dir/pairs")
    Nk.run(spark, Array("propose", entities, snaks, s"$dir/pairs",
      s"$dir/batch.qs", "--retrieved", "2024-06-01",
      "--create-unmatched", "true"))
    val qs = spark.read.text(s"$dir/batch.qs")
      .collect().map(_.getString(0))
    // p1 diffs against Q1 (no birth date there to add, but P31 is
    // present so no re-assert); p2/p3 are unmatched -> CREATE blocks
    assert(qs.count(_ === "CREATE") === 2)
    assert(qs.exists(_.startsWith("LAST\tLmul\t\"Stefan Quandt\"")))
  }
}
