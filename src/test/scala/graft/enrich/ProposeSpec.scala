package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.store.EntityStore

/** QuickStatements proposal engine ([[Propose]]) against the reference
  * write-path semantics (`wikidata/propose.py` and the `wikidata/write`
  * modules): value rendering, known-item diffing, alias/property/
  * position emission and the CREATE block shape.
  */
class ProposeSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  def render(c: org.apache.spark.sql.Column): String =
    Seq("x").toDF("v").select(c.as("r")).head.getAs[String]("r")

  test("QS value rendering: escape, quote, date precision") {
    assert(render(Propose.qsQuote(lit("a\tb \"c\" d\\e"))) ===
      "\"a b \\\"c\\\" d\\\\e\"")
    assert(render(Propose.qsDate(lit("1926-06-21"))) ===
      "+1926-06-21T00:00:00Z/11")
    assert(render(Propose.qsDate(lit("1926-06"))) ===
      "+1926-06-01T00:00:00Z/10")
    assert(render(Propose.qsDate(lit("1926"))) ===
      "+1926-01-01T00:00:00Z/9")
    assert(render(Propose.qsDate(lit("no date"))) === null)
  }

  // parsed-item rows for two QIDs: Q1 a complete human, Q2 an empty org
  val snaks: DataFrame = Seq(
    ("Q1", "main", "P31", "Q5", null),
    ("Q1", "main", "P569", null, null),
    ("Q1", "main", "P21", null, null),
    ("Q1", "main", "P27", "Q30", null),
    ("Q1", "main", "P39", "Q900", null),
    ("Q1", "label", null, null, "Johanna Quandt"),
    ("Q1", "alias", null, null, "Hanna Quandt"),
    ("Q2", "main", "P31", "Q4830453", null),
    ("Q2", "label", null, null, "Acme"))
    .toDF("qid", "role", "prop", "vEntity", "vString")

  test("knownOf aggregates the reference's _Known fields") {
    val k = Propose.knownOf(snaks).orderBy("qid").collect()
    val q1 = k(0)
    assert(q1.getAs[Boolean]("is_human"))
    assert(q1.getAs[Boolean]("has_birth_date"))
    assert(q1.getAs[Boolean]("has_gender"))
    assert(q1.getAs[Seq[String]]("citizenship_qids") === Seq("Q30"))
    assert(q1.getAs[Seq[String]]("position_qids") === Seq("Q900"))
    assert(q1.getAs[Seq[String]]("name_texts").sorted ===
      Seq("hanna quandt", "johanna quandt"))
    assert(!k(1).getAs[Boolean]("is_human"))
  }

  val entities: DataFrame = Seq(
    ("e1", "Person", Map(
      "name" -> Seq("Johanna Quandt"),
      "alias" -> Seq("J. Quandt", "johanna quandt"),
      "weakAlias" -> Seq("JoJo"),
      "birthDate" -> Seq("1926-06-21"),
      "gender" -> Seq("female"),
      "citizenship" -> Seq("de", "us", "su"),
      "sourceUrl" -> Seq("https://src.example/e1"))))
    .toDF("id", "schema", "properties")
  lazy val stmts = EntityStore.statements(entities, "t")

  lazy val enrichLines = graft.Caches.holding(Propose.enrich(_)(
    Seq(("e1", "Q1")).toDF("entity_id", "qid"), stmts, snaks,
    Seq(("e1", "Q901", "2001", null.asInstanceOf[String]),
      ("e1", "Q900", "1999", "2003"))
      .toDF("entity_id", "pos_qid", "start", "end"),
    retrieved = Some("2024-06-01"))
    .orderBy("ord").collect().map(_.getAs[String]("line")))

  test("enrich emits only what wikidata lacks, in reference order") {
    val refs = "\tS854\t\"https://src.example/e1\"" +
      "\tS813\t+2024-06-01T00:00:00Z/11"
    assert(enrichLines === Array(
      // casefold-known names skipped; weakAlias non-matchable skipped
      "Q1\tAmul\t\"J. Quandt\"",
      // is_human/birth/gender known → no P31/P569/P21; de is new,
      // us already present, su historical
      s"Q1\tP27\tQ183$refs",
      // Q900 already held; Q901 single occupancy → qualified, open end
      s"Q1\tP39\tQ901\tP580\t+2001-01-01T00:00:00Z/9$refs"))
  }

  test("create emits a CREATE block with label, aliases, full props") {
    val lines = Propose.create(stmts, retrieved = Some("2024-06-01"))
      .orderBy("ord").collect().map(_.getAs[String]("line"))
    val refs = "\tS854\t\"https://src.example/e1\"" +
      "\tS813\t+2024-06-01T00:00:00Z/11"
    assert(lines === Array(
      "CREATE",
      "LAST\tLmul\t\"Johanna Quandt\"",
      "LAST\tAmul\t\"J. Quandt\"",
      s"LAST\tP31\tQ5$refs",
      s"LAST\tP569\t+1926-06-21T00:00:00Z/11$refs",
      s"LAST\tP21\tQ6581072$refs",
      s"LAST\tP27\tQ183$refs",
      s"LAST\tP27\tQ30$refs"))
  }

  test("unsourced entities still propose, without citation snaks") {
    val bare = Seq(("e2", "Person", Map(
      "name" -> Seq("X Y"), "gender" -> Seq("male"))))
      .toDF("id", "schema", "properties")
    val lines = Propose.create(EntityStore.statements(bare, "t"))
      .orderBy("ord").collect().map(_.getAs[String]("line"))
    assert(lines === Array(
      "CREATE", "LAST\tLmul\t\"X Y\"", "LAST\tP31\tQ5",
      "LAST\tP21\tQ6581097"))
  }

  test("casefold parity: a known Strauß label suppresses STRAUSS") {
    val sz = Seq(
      ("Q7", "main", "P31", "Q5", null),
      ("Q7", "main", "P569", null, null),
      ("Q7", "main", "P21", null, null),
      ("Q7", "label", null, null, "Franz Strauß"))
      .toDF("qid", "role", "prop", "vEntity", "vString")
    val ent = Seq(("e4", "Person", Map(
      "name" -> Seq("FRANZ STRAUSS"),
      "alias" -> Seq("F. Strauß", "f. strauss"))))
      .toDF("id", "schema", "properties")
    val lines = graft.Caches.holding(Propose.enrich(_)(
      Seq(("e4", "Q7")).toDF("entity_id", "qid"),
      EntityStore.statements(ent, "t"), sz,
      Seq.empty[(String, String, String, String)]
        .toDF("entity_id", "pos_qid", "start", "end"))
      .orderBy("ord").collect().map(_.getAs[String]("line")))
    // the name casefold-matches the label (ß→ss, as Python casefold);
    // the two alias spellings fold together and emit once
    assert(lines === Array("Q7\tAmul\t\"F. Strauß\""))
  }

  test("conflicting single-valued props are withheld") {
    val conflicted = Seq(("e3", "Person", Map(
      "name" -> Seq("Z"),
      "birthDate" -> Seq("1950", "1951"),
      "gender" -> Seq("male", "female"))))
      .toDF("id", "schema", "properties")
    val lines = Propose.create(EntityStore.statements(conflicted, "t"))
      .orderBy("ord").collect().map(_.getAs[String]("line"))
    assert(lines === Array("CREATE", "LAST\tLmul\t\"Z\"",
      "LAST\tP31\tQ5"))
  }
}
