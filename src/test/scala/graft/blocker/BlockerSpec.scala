package graft.blocker

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Blocker operators driven with manual rows — the Spark mirror of the
  * reference's direct-SQL blocker tests
  * (`tests/blocker/test_index.py:25-112`): pair generation, stopword
  * cost caps, IDF math, and alias damping asserted on constructed
  * inputs.
  */
class BlockerSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  def entriesDf(rows: (String, String, String, String, Long)*) =
    rows.toDF("schema", "id", "field", "token", "cnt")

  val compat = Seq(("Person", "Person")).toDF("ls", "rs")
  val noBoosts = Seq.empty[(String, Double)].toDF("field", "boost")

  test("shared tokens produce one pair; l.id > r.id halves the join") {
    val e = entriesDf(
      ("Person", "a", "name", "n:x", 1L),
      ("Person", "b", "name", "n:x", 1L),
      ("Person", "c", "name", "n:y", 1L))
    val tf = Blocker.termFrequencies(e, compat, noBoosts)
    val pairs = Blocker.pairScores(tf, compat).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getString(0) === "b" && pairs.head.getString(1) === "a")
    assert(pairs.head.getDouble(2) > 0.0)
  }

  test("stopword cost cap drops high-fanout tokens from pairs") {
    // token n:common appears on 6 entities → same-schema cost 15;
    // with cap 10 it must become a stopword and emit no pairs
    val rows = (1 to 6).map(i =>
      ("Person", s"e$i", "name", "n:common", 1L)) :+
      (("Person", "e1", "name", "n:rare", 1L)) :+
      (("Person", "e2", "name", "n:rare", 1L))
    val e = entriesDf(rows: _*)
    val cfg = Blocker.Config(maxPairCost = 10L)
    val stats = Blocker.tokenStats(e)
    val sw = Blocker.stopwords(stats, compat, cfg).collect()
    assert(sw.map(_.getString(0)).toSet === Set("n:common"))
    assert(sw.head.getLong(1) === 15L)
    val tf = Blocker.termFrequencies(e, compat, noBoosts, cfg)
    val pairs = Blocker.pairScores(tf, compat).collect()
    // only the rare token may pair: exactly (e2, e1)
    assert(pairs.length === 1)
    assert(pairs.head.getString(0) === "e2")
  }

  test("IDF counts distinct ids and rarer tokens weigh more") {
    val e = entriesDf(
      ("Person", "a", "name", "n:rare", 1L),
      ("Person", "a", "np", "n:rare", 1L), // same id, second field
      ("Person", "a", "name", "n:common", 1L),
      ("Person", "b", "name", "n:common", 1L),
      ("Person", "c", "name", "n:common", 1L))
    val idf = Blocker.idf(e).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // distinct-id IDF: n:rare df=1 (not 2 despite two fields)
    assert(math.abs(idf("n:rare") - (1.0 + math.log(3.0 / 1.0))) < 1e-9)
    assert(math.abs(idf("n:common") - (1.0 + math.log(3.0 / 3.0))) < 1e-9)
    assert(idf("n:rare") > idf("n:common"))
  }

  test("alias damping hits only damp fields; name-less ids keep rows") {
    val e = entriesDf(
      ("Person", "a", "name", "n:x", 4L), // 4 name tokens → damp sqrt(4)
      ("Person", "a", "date", "d:1999", 1L),
      ("Person", "b", "date", "d:1999", 1L)) // b has NO name tokens
    val tf = Blocker.termFrequencies(e, compat, noBoosts,
      dampFields = Seq("name")).collect()
      .map(r => (r.getString(1), r.getString(3)) -> r.getDouble(4)).toMap
    // b keeps its rows with the default name mass of 1
    assert(tf.contains(("b", "d:1999")))
    // a's date weight is NOT damped, equals b's
    assert(math.abs(tf(("a", "d:1999")) - tf(("b", "d:1999"))) < 1e-9)
    // a's name weight IS damped by sqrt(4) = 2 relative to its idf
    val idfX = 1.0 + math.log(2.0 / 1.0)
    assert(math.abs(tf(("a", "n:x")) - idfX / 2.0) < 1e-9)
  }

  test("match top-K keeps the relative score floor") {
    val idx = entriesDf(
      ("Person", "c1", "name", "n:x", 1L),
      ("Person", "c2", "name", "n:x", 1L),
      ("Person", "c2", "name", "n:y", 1L),
      ("Person", "q", "name", "n:x", 1L),
      ("Person", "q", "name", "n:y", 1L))
    val tf = Blocker.termFrequencies(idx, compat, noBoosts)
    val topk = Blocker.matchTopK(
      tf.filter(col("id") === "q"), tf.filter(col("id") =!= "q"), compat,
      Blocker.Config(maxCandidates = 10, minScoreRatio = 0.1))
    val rows = topk.orderBy(col("rn")).collect()
    // c2 shares two tokens → ranks first; c1 one token
    assert(rows.map(_.getString(1)).toSeq === Seq("c2", "c1"))
    assert(rows.head.getDouble(2) >= rows.last.getDouble(2))
  }

  test("symbol tokens block cross-form org/person variants together") {
    val named = Seq(
      ("Company", "o1", "ACME Limited"),
      ("Company", "o2", "ACME Ltd"),
      ("Company", "o3", "Siemens Russia 012"),
      ("Person", "p1", "Bill Smith"),
      ("Person", "p2", "William Smith")).toDF("schema", "id", "value")
    val sy = EntityTokenizer.symbolEntries(named)
      .collect().map(r => (r.getString(1), r.getString(3))).toSet
    // limited and ltd collapse to one ORG_CLASS symbol -> same bucket
    assert(sy(("o1", "sy:org_class:ltd")) && sy(("o2", "sy:org_class:ltd")))
    // location + zero-normalized numeral
    assert(sy(("o3", "sy:location:russia")) && sy(("o3", "sy:numeric:12")))
    // Bill and William share a NICK symbol
    val shared = sy.collect { case ("p1", t) => t }
      .intersect(sy.collect { case ("p2", t) => t })
    assert(shared.exists(_.startsWith("sy:nick:")))
  }

  test("the windowed name mass equals the joined name counts it replaced") {
    val corpus = EntityTokenizer.entries(graft.xref.XrefCorpus.statements(spark))
    val e = corpus.unionByName(entriesDf(
      // a name-less entity, and name tokens that become stopwords
      ("Address", "addr", "address", "n:street", 1L),
      ("Person", "s1", "name", "n:common", 2L),
      ("Person", "s1", "name", "n:rare", 1L),
      ("Person", "s2", "name", "n:common", 1L),
      ("Person", "s3", "name", "n:common", 1L))).localCheckpoint(true)
    val compat = graft.xref.Xref.compatDf(spark)
    val boosts = graft.xref.Xref.boostsDf(spark)
    val damp = EntityTokenizer.DampFields :+ "name"
    for (cap <- Seq(1L, Blocker.Config.reference.maxPairCost)) {
      val cfg = Blocker.Config(maxPairCost = cap)
      // the old plan: a per-entity aggregate over every entries row,
      // LEFT-joined back on id after the stopword anti-join
      val nc = e.filter(col("field") === "name").groupBy(col("id"))
        .agg(greatest(lit(1L), sum(col("cnt"))).as("n_names"))
      val sw = Blocker.stopwords(Blocker.tokenStats(e), compat, cfg)
        .select(col("token"))
      val want = Blocker.weightSelect(e.join(sw, Seq("token"), "left_anti")
        .join(Blocker.idf(e), Seq("token"))
        .join(nc, Seq("id"), "left_outer"), boosts, damp)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("schema", "id", "field", "token", "weight").collect()
          .map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
      val got = rows(Blocker.termFrequencies(e, compat, boosts, cfg, damp))
      assert(got === rows(want))
      // at cap 1 "n:common" is a stopword, yet its count stays in s1's
      // name mass
      assert(got.exists(r => r(1) == "s1" && r(3) == "n:common") ===
        (cap > 1L))
    }
  }

  test("the literal compat and boost lookups equal the joins they replace") {
    // the inner compat join kept a pair once per matching row, the
    // literal set once: they agree while the tables' rows are distinct
    Seq(graft.model.Ftm.compatPairs, graft.store.StarStatements.compat)
      .foreach(c => assert(c.distinct.size === c.size))
    Seq(EntityTokenizer.Boosts, graft.store.StarStatements.boosts)
      .foreach(b => assert(b.map(_._1).distinct.size === b.size))
    val ftmCompat = graft.xref.Xref.compatDf(spark)
    val schemas = graft.model.Ftm.schemata.keys.toSeq.map(Option(_)) :+ None
    val pairs = (for (a <- schemas; b <- schemas) yield (a, b))
      .toDF("a", "b")
    val (ls, rs) = (least(col("a"), col("b")), greatest(col("a"), col("b")))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
        .sortBy(_.toString)
    val viaJoin = pairs.join(ftmCompat, ls === col("ls") && rs === col("rs"))
      .select("a", "b")
    val viaSet = pairs.filter(Blocker.compatible(ftmCompat, ls, rs))
    assert(sorted(viaSet) === sorted(viaJoin))
    assert(viaJoin.count() > 0)

    val boosts = graft.xref.Xref.boostsDf(spark)
    val fields = (EntityTokenizer.Boosts.map(f => Option(f._1)) ++
      Seq(Some("nope"), None)).toDF("field")
    def byField(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)),
        Option(r.get(1)).map(_.asInstanceOf[Double]))).toSeq.sortBy(_.toString)
    assert(byField(fields.select(col("field"), Blocker.boostOf(boosts))) ===
      byField(fields.join(boosts, Seq("field"), "left_outer")
        .select("field", "boost")))
  }
}
