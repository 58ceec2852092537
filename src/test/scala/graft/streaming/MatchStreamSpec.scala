package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.blocker.{Blocker, EntityTokenizer}
import graft.xref.Xref

/** Streaming incremental match vs its batch twin: the same statements
  * pushed through MemoryStream against a static TF index must produce
  * exactly the batch [[Blocker.matchTopK]] candidate rows — including
  * when one entity's statements are split across micro-batches (state
  * accumulates and the final emission revises the ranking).
  */
class MatchStreamSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private val cfg = Blocker.Config()

  private def stmtsDf(rows: Seq[(String, String, String, String, String)])
      : DataFrame =
    rows.toDF("entity_id", "schema", "prop", "prop_type", "value")
      .withColumn("canonical_id", col("entity_id"))

  // a corpus with one exact-name twin, two partial matches and noise
  private val corpus = stmtsDf(Seq(
    ("c1", "Person", "name", "name", "Johanna Quandt"),
    ("c1", "Person", "country", "country", "de"),
    ("c2", "Person", "name", "name", "Stefan Quandt"),
    ("c3", "Person", "name", "name", "Johanna Berger"),
    ("c4", "Person", "name", "name", "Maria Vogel"),
    ("c5", "Person", "name", "name", "Heinz Vogel")))

  private def tfIndex: DataFrame =
    Blocker.termFrequencies(EntityTokenizer.entries(corpus),
      Xref.compatDf(spark), Xref.boostsDf(spark), cfg,
      dampFields = EntityTokenizer.DampFields)
      .localCheckpoint(true)

  private val query = Seq(
    ("q1", "Person", "name", "name", "Johanna Quandt"),
    ("q1", "Person", "country", "country", "de"),
    ("q2", "Person", "name", "name", "Hans Vogel"))

  private def batchExpected(q: Seq[(String, String, String, String, String)])
      : Set[(String, String, Double, Int)] = {
    val tfQuery = EntityTokenizer.entries(stmtsDf(q))
      .withColumn("weight", lit(0.0))
    Blocker.matchTopK(tfQuery, tfIndex, Xref.compatDf(spark), cfg)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
  }

  test("one-batch stream reproduces the batch matchTopK rows") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(String, String, String, String, String)]
    val stream = MatchStream.candidates(
      src.toDF().toDF("entity_id", "schema", "prop", "prop_type", "value"),
      tfIndex, Xref.compatDf(spark), cfg)
    val q = stream.writeStream.format("memory").queryName("mstream")
      .outputMode("append").start()
    try {
      src.addData(query: _*)
      q.processAllAvailable()
      val got = spark.table("mstream").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getInt(3))).toSet
      val want = batchExpected(query)
      assert(got === want)
      assert(got.exists { case (qid, cid, _, rn) =>
        qid == "q1" && cid == "c1" && rn == 1 })
    } finally q.stop()
  }

  test("statements split across micro-batches revise the ranking") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(String, String, String, String, String)]
    val stream = MatchStream.candidates(
      src.toDF().toDF("entity_id", "schema", "prop", "prop_type", "value"),
      tfIndex, Xref.compatDf(spark), cfg)
    val q = stream.writeStream.format("memory").queryName("mstream2")
      .outputMode("append").start()
    try {
      // batch 1: only the country statement — weak, generic candidates
      src.addData(("q1", "Person", "country", "country", "de"))
      q.processAllAvailable()
      // batch 2: the name arrives late; state folds both statements
      src.addData(("q1", "Person", "name", "name", "Johanna Quandt"))
      q.processAllAvailable()
      val all = spark.table("mstream2").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getInt(3))).toSet
      // the sink holds both emissions: the country-only ranking and the
      // revised one (disjoint here — the shared candidate's score moves)
      val first = batchExpected(Seq(
        ("q1", "Person", "country", "country", "de")))
      val revised = batchExpected(Seq(
        ("q1", "Person", "country", "country", "de"),
        ("q1", "Person", "name", "name", "Johanna Quandt")))
      assert((first & revised).isEmpty)
      assert(all === (first ++ revised))
    } finally q.stop()
  }

  test("the literal compat test keeps exactly the broadcast compat join's hits") {
    // shared tokens across compatible and incompatible schema pairs
    val mixed = stmtsDf(Seq(
      ("m1", "Company", "name", "name", "Quandt Holding"),
      ("m2", "Vessel", "name", "name", "Johanna Quandt"),
      ("m3", "LegalEntity", "name", "name", "Johanna Quandt"),
      ("m4", "Address", "full", "address", "Quandt Strasse 1"),
      ("m5", "Organization", "country", "country", "de")))
    val index = Blocker.termFrequencies(
      EntityTokenizer.entries(corpus.unionByName(mixed)),
      Xref.compatDf(spark), Xref.boostsDf(spark), cfg,
      dampFields = EntityTokenizer.DampFields)
    val queries = stmtsDf(query ++ Seq(
      ("q3", "Company", "name", "name", "Johanna Quandt"),
      ("q4", "Vessel", "name", "name", "Quandt Holding"),
      ("q5", "Address", "full", "address", "Quandt Strasse 1")))
    val compat = Xref.compatDf(spark)
    val joined = MatchStream.queryTokens(queries).as("l")
      .join(index.as("r"), col("l.token") === col("r.token") &&
        col("l.field") === col("r.field") && col("l.id") =!= col("r.id"))
    val hit = Seq(col("l.id"), col("r.id"), col("l.field"), col("l.token"),
      col("r.weight"))
    def rows(df: DataFrame) = df.select(hit: _*).collect().toSeq
      .map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
    val literal = rows(joined.filter(Blocker.compatible(compat,
      least(col("l.schema"), col("r.schema")),
      greatest(col("l.schema"), col("r.schema")))))
    val broadcastJoin = rows(joined.join(broadcast(compat),
      col("ls") === least(col("l.schema"), col("r.schema")) &&
        col("rs") === greatest(col("l.schema"), col("r.schema"))))
    assert(literal === broadcastJoin)
    assert(literal.size > 5)
    // some shared-token hits are incompatible and dropped by both
    assert(rows(joined).size > literal.size)
  }

  test("rank applies the relative score floor and candidate cap") {
    val seen = Map(
      "c1\u0000name\u0000n:x" -> 10.0,
      "c2\u0000np\u0000np:x" -> 0.4,
      "c3\u0000np\u0000np:x" -> 5.0)
    val out = MatchStream.rank("q", seen, cfg.copy(maxCandidates = 2))
    // c2 never ranks (cap 2), and would fail the 0.1 floor anyway
    assert(out.map(_.cid) === Seq("c1", "c3"))
    assert(out.map(_.rn) === Seq(1, 2))
    assert(out.head.score === 10.0)
  }
}
