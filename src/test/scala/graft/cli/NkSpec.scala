package graft.cli

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.store.StatementFormats
import graft.xref.XrefCorpus

/** [[Nk]] on the suite's shared session, over the in-repo xref corpus:
  * the composed xref → apply → sorted-aggregate path equals `dedupe`,
  * `apply` over statement CSV equals `apply` over parquet,
  * `xref` leaves no entry in the session's `CacheManager`,
  * bad arguments fail with the verb's usage before any session is
  * used, `merge-lake` leaves the session alive with its listeners,
  * `name-bench`, `bench-checks` and `lexicon-bench` never ask for a
  * session, `bench-matchers` prints a `.` decimal separator under
  * de_DE, and `index-build --index-dir` restores the JVM's index root.
  */
class NkSpec extends AnyFunSuite {
  import SparkSpec.{cachedEntries, listeners, spark}

  /** A session thunk for calls that must never use one. */
  private def noSession: SparkSession = fail("the verb used the session")

  private lazy val dir = {
    val d = SparkSpec.tempDir("nk")
    XrefCorpus.statements(spark).write.parquet(s"$d/stmts")
    d
  }

  /** ijson entities as (id, schema, prop → sorted values). */
  private def entities(out: String): Set[(String, String, Map[String, Seq[String]])] = {
    val m = new ObjectMapper()
    spark.read.text(out).collect().map { r =>
      val e = m.readTree(r.getString(0))
      val props = e.get("properties").fields.asScala.map { f =>
        f.getKey -> f.getValue.elements.asScala.map(_.asText).toSeq.sorted
      }.toMap
      (e.get("id").asText, e.get("schema").asText, props)
    }.toSet
  }

  test("xref + apply + sorted-aggregate give the dedupe entities") {
    val algo = Seq("--algorithm", "logic-v1", "--auto-threshold", "0.6")
    assert(Nk.run(spark, Array("xref", s"$dir/stmts", s"$dir/xref") ++ algo) ===
      s"[xref] wrote $dir/xref/merges, $dir/xref/suggestions and $dir/xref/edges")
    assert(spark.read.parquet(s"$dir/xref/merges").count() > 0)
    Nk.run(spark, Array("apply", s"$dir/stmts", s"$dir/canon",
      "--edges", s"$dir/xref/merges"))
    Nk.run(spark, Array("sorted-aggregate", s"$dir/canon", s"$dir/agg"))

    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    Nk.run(spark, Array("dedupe", s"$dir/stmts", s"$dir/dedupe") ++ algo)
    assert(sc.getPersistentRDDs.keySet.toSet === before,
      "dedupe left its input persisted")

    val composed = entities(s"$dir/agg")
    assert(composed === entities(s"$dir/dedupe"))
    val sources = spark.read.parquet(s"$dir/stmts")
      .select("canonical_id").distinct().count()
    assert(composed.size < sources, "no entities merged")
  }

  test("apply reads and writes statement CSV as it does parquet") {
    import spark.implicits._
    // what a lossy CSV form would break: a newline inside a value,
    // NULL (not empty) original_values, the external flag and a
    // microsecond timestamp
    val stmts = XrefCorpus.statements(spark)
      .withColumn("value", when(col("prop") === "address",
        regexp_replace(col("value"), ", ", ",\n")).otherwise(col("value")))
      .withColumn("external", col("entity_id") === "c3")
      .withColumn("first_seen", when(col("entity_id") === "p1",
        timestamp_micros(lit(1700000000123456L))))
    stmts.write.parquet(s"$dir/csv-in")
    StatementFormats.writeCsv(stmts, s"$dir/stmts.csv")
    Seq(("p2", "p1"), ("c2", "c1")).toDF("src", "dst")
      .write.parquet(s"$dir/csv-edges")
    def apply(in: String, out: String): Unit =
      assert(Nk.run(spark, Array("apply", in, out, "--edges",
        s"$dir/csv-edges")) === s"[apply] wrote $out")
    apply(s"$dir/csv-in", s"$dir/csv-out")
    apply(s"$dir/stmts.csv", s"$dir/out.csv")

    def rows(df: DataFrame) = df.orderBy("id").collect().toSeq
    val viaParquet = spark.read.parquet(s"$dir/csv-out")
    val viaCsv = StatementFormats.readCsv(spark, s"$dir/out.csv")
    assert(viaCsv.columns.toSeq === viaParquet.columns.toSeq)
    assert(rows(viaCsv) === rows(viaParquet))
    assert(viaCsv.filter(col("entity_id").isin("p1", "p2"))
      .select("canonical_id").distinct().count() === 1L)
    assert(viaCsv.filter(col("value").contains(",\n")).count() > 0)
    assert(viaCsv.filter(col("original_value").isNotNull).count() === 0L)
    assert(viaCsv.filter(col("external")).select("entity_id").distinct()
      .as[String].collect().toSeq === Seq("c3"))
    assert(viaCsv.filter(col("first_seen").isNotNull)
      .select(unix_micros(col("first_seen"))).as[Long].distinct()
      .collect().toSeq === Seq(1700000000123456L))
  }

  test("xref leaves the CacheManager as it found it") {
    val before = cachedEntries
    Nk.run(spark, Array("xref", s"$dir/stmts", s"$dir/xref-cache",
      "--algorithm", "logic-v1", "--auto-threshold", "0.6"))
    assert(spark.read.parquet(s"$dir/xref-cache/merges").count() > 0)
    assert(cachedEntries === before, "xref left a cached table")
  }

  test("bad arguments throw the verb's usage before any session use") {
    def usageOf(args: String*): String =
      intercept[IllegalArgumentException](Nk.run(noSession, args.toArray))
        .getMessage
    val xrefUsage = "usage: nk xref <statements> <out> [--dataset NAME]"
    assert(usageOf("xreff", "in", "out").contains(Nk.Usage))
    assert(usageOf("xref", "in").contains(xrefUsage))
    val typo = usageOf("xref", "in", "out", "--auto-treshold", "0.7")
    assert(typo.contains("--auto-treshold") && typo.contains(xrefUsage))
    assert(usageOf("xref", "in", "out", "--auto-threshold").contains(xrefUsage))
    assert(usageOf("merge-lake", "grow", "lake")
      .contains("usage: nk merge-lake init <statements> <lakeDir>"))
    assert(usageOf("apply", "in", "out").contains("apply needs --edges"))

    // a switch never takes the next token as its value
    val call = Nk.parse(Array("loop-stream", "run", "--drain", "in", "root"),
      noSession)
    assert(call.cmd.name === "loop-stream run")
    assert(call.pos === Seq("in", "root"))
    assert(call.flags === Map("drain" -> "true"))

    assert(Nk.run(noSession, Array()) === Nk.Usage)
    assert(Nk.run(noSession, Array("--help")) === Nk.Usage)
    Nk.Table.foreach(c => assert(Nk.Usage.contains(c.usage)))
  }

  test("merge-lake verbs leave the shared session alive with its listeners") {
    val stmts = spark.read.parquet(s"$dir/stmts")
    stmts.filter(col("prop") === "name")
      .withColumn("value", upper(col("value")))
      .write.parquet(s"$dir/delta")
    spark.range(1).count()
    val before = listeners
    val lake = s"$dir/lake"
    assert(Nk.run(spark, Array("merge-lake", "init", s"$dir/stmts", lake)) ===
      s"[merge-lake] initialized $lake")
    assert(Nk.run(spark, Array("merge-lake", "append", s"$dir/delta", lake))
      .startsWith("[merge-lake] appended delta"))
    assert(Nk.run(spark, Array("merge-lake", "compact", lake))
      .startsWith("[merge-lake] compacted"))
    Nk.run(spark, Array("merge-lake", "snapshot", lake, s"$dir/snap"))
    assert(!spark.sparkContext.isStopped)
    assert(listeners === before)
    val snap = spark.read.parquet(s"$dir/snap")
    assert(snap.count() === stmts.count())
    assert(snap.filter(col("prop") === "name")
      .filter(col("value") =!= upper(col("value"))).count() === 0)
  }

  test("name-bench, bench-checks and lexicon-bench use no session") {
    val cases = s"$dir/cases.csv"
    Files.write(Paths.get(cases), Seq("schema,name1,name2,is_match",
      "Person,Johanna Quandt,Johanna Quandt,true",
      "Person,Johanna Quandt,Stefan Quandt,false").asJava)
    val out = Nk.run(noSession, Array("name-bench", cases, "--runs", "1",
      "--comparator", "logic-v2"))
    assert(out.linesIterator.next() ===
      "[name-bench] 2 cases, runs=1, threshold=0.7")
    assert(out.contains("[name-bench] logic-v2"))
    // the reference corpora are absent here: each fails on its file,
    // not on a session
    for (args <- Seq(Array("bench-checks", s"$dir/absent.yml"),
        Array("lexicon-bench", s"$dir/absent.csv", s"$dir/absent.yml")))
      intercept[java.nio.file.NoSuchFileException](Nk.run(noSession, args))
  }

  test("bench-matchers prints a dot decimal separator under de_DE") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val out =
      try Nk.run(spark, Array("bench-matchers", s"$dir/stmts", "--number",
        "20", "--limit", "50", "--algorithm", "logic-v1"))
      finally java.util.Locale.setDefault(prev)
    assert(out.matches(
      "\\[bench\\] logic-v1 +n=20 +total=\\d+\\.\\d{3} s  \\d+\\.\\d us/call"),
      out)
  }

  test("index-build --index-dir restores the index root, even on a throw") {
    val prev = sys.props.get("graft.index.dir")
    // a missing data dir fails before any artifact is built
    intercept[Exception](Nk.run(spark, Array("index-build",
      s"$dir/absent-sf", "--index-dir", s"$dir/index")))
    assert(sys.props.get("graft.index.dir") === prev)
  }

  test("scoring-loss returns its table as the report") {
    val pairs = s"$dir/pairs.json"
    def entity(id: String, name: String) = s"""{"id":"$id",""" +
      s""""schema":"Person","properties":{"name":["$name"]},"datasets":[]}"""
    def pair(l: String, r: String, judgement: String) =
      s"""{"left":$l,"right":$r,"judgement":"$judgement","weight":0.0}"""
    Files.write(Paths.get(pairs), Seq(
      pair(entity("a", "Vladimir Petrov"), entity("b", "Vladimir Petrov"),
        "positive"),
      pair(entity("c", "Maria Lopez"), entity("d", "John Smith"),
        "negative")).asJava)
    val table = Nk.run(spark, Array("scoring-loss", pairs, "0.7"))
    assert(table.linesIterator.exists(_.contains("mean_loss")))
    assert(table.contains("|logic-v2"))
  }
}
