package graft.enrich

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.store.EntityStore

/** Wikidata claim→statement transform: parser edge cases, value
  * conversion semantics (`wikidata/value.py`), and the end-to-end hop
  * from a wikidata item to an xref match against a donations entity.
  */
class WikidataSpec extends AnyFunSuite {
  import SparkSpec.spark

  private def stmtsOf(docs: String*) = {
    import spark.implicits._
    Wikidata.statements(
      Wikidata.parse(spark.createDataset(docs).toDF("doc")))
  }

  private val q5 =
    """"claims":{"P31":[{"id":"c0","rank":"normal","mainsnak":{"snaktype":"value","property":"P31","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"Q5"}}}}]"""

  test("clean name strips bracketed text and emoji, keeps name-likes") {
    assert(Wikidata.cleanName("Johanna Quandt (businesswoman)")
      === Some("Johanna Quandt"))
    assert(Wikidata.cleanName("(only brackets)") === Some("(only brackets)"))
    assert(Wikidata.cleanName("12345") === None)
  }

  test("parser follows redirects and drops malformed docs") {
    val redirected =
      """{"id":"Q1","modified":"2024-01-01T00:00:00Z","redirects":{"to":"Q2"},"labels":{"en":{"language":"en","value":"Target"}}}"""
    val rows = WikidataModel.parseItem(redirected)
    assert(rows.nonEmpty && rows.forall(_.qid == "Q2"))
    assert(WikidataModel.parseItem("{not json").isEmpty)
    assert(WikidataModel.parseItem("""{"no_id": true}""").isEmpty)
  }

  test("time conversion: precision, BCE, imprecise, -01-01 trim") {
    def person(qid: String, time: String, prec: Int) =
      s"""{"id":"$qid","modified":"2024-01-01T00:00:00Z","labels":{"en":{"language":"en","value":"T Person"}},$q5,"P569":[{"id":"$qid-b","rank":"normal","mainsnak":{"snaktype":"value","property":"P569","datatype":"time","datavalue":{"type":"time","value":{"time":"$time","precision":$prec}}}}]}}"""
    val out = stmtsOf(
      person("Q10", "+1962-05-17T00:00:00Z", 11),
      person("Q11", "+1962-05-17T00:00:00Z", 10),
      person("Q12", "+1962-05-17T00:00:00Z", 9),
      person("Q13", "+1962-01-01T00:00:00Z", 11), // bot artifact → year
      person("Q14", "-0500-01-01T00:00:00Z", 11), // BCE → HISTORIC
      person("Q15", "+1980-01-01T00:00:00Z", 8),  // recent imprecise → drop
      person("Q16", "+1700-01-01T00:00:00Z", 8))  // old imprecise → HISTORIC
      .filter(col("prop") === "birthDate")
      .select(col("entity_id"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("Q10") === "1962-05-17")
    assert(out("Q11") === "1962-05")
    assert(out("Q12") === "1962")
    assert(out("Q13") === "1962")
    assert(out("Q14") === Wikidata.Historic)
    assert(!out.contains("Q15"))
    assert(out("Q16") === Wikidata.Historic)
  }

  test("person gate, label dedupe, strong/weak aliases, topics") {
    val doc =
      """{"id":"Q20","modified":"2024-01-01T00:00:00Z","labels":{"en":{"language":"en","value":"Jane Doe"},"de":{"language":"de","value":"Jane Doe"}},"aliases":{"en":[{"language":"en","value":"Janie Doe"},{"language":"en","value":"JD"}]},""" +
        q5 +
        ""","P106":[{"id":"c1","rank":"normal","mainsnak":{"snaktype":"value","property":"P106","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"Q82955"}}}}]}}"""
    val nonPerson =
      """{"id":"Q21","modified":"2024-01-01T00:00:00Z","labels":{"en":{"language":"en","value":"Acme"}},"claims":{"P31":[{"id":"c2","rank":"normal","mainsnak":{"snaktype":"value","property":"P31","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"Q4830453"}}}}]}}"""
    val out = stmtsOf(doc, nonPerson).cache()
    // casefold dedupe: "Jane Doe" emitted once (eng wins over deu)
    val names = out.filter(col("prop") === "name").collect()
    assert(names.length === 1 && names.head.getAs[String]("lang") === "eng")
    assert(out.filter(col("prop") === "alias" &&
      col("value") === "Janie Doe").count() === 1)
    assert(out.filter(col("prop") === "weakAlias" &&
      col("value") === "JD").count() === 1)
    assert(out.filter(col("prop") === "topics" &&
      col("value") === "role.pol").count() === 1)
    // non-Q5 item contributes nothing
    assert(out.filter(col("entity_id") === "Q21").count() === 0)
  }

  test("relationships: family links between persons, non-persons drop") {
    import spark.implicits._
    def person(qid: String, spouse: Option[String]) = {
      val sp = spouse.map(t =>
        s""","P26":[{"id":"$qid-s","rank":"normal","mainsnak":{"snaktype":"value","property":"P26","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"$t"}}},"qualifiers":{"P580":[{"snaktype":"value","property":"P580","datatype":"time","datavalue":{"type":"time","value":{"time":"+1999-01-01T00:00:00Z","precision":9}}}]},"references":[{"snaks":{"P854":[{"snaktype":"value","property":"P854","datatype":"url","datavalue":{"type":"string","value":"https://ref.example/$qid"}}]}}]}]""").getOrElse("")
      s"""{"id":"$qid","modified":"2024-01-01T00:00:00Z","labels":{"en":{"language":"en","value":"P $qid"}},$q5$sp}}"""
    }
    val org =
      """{"id":"Q77","modified":"2024-01-01T00:00:00Z","labels":{"en":{"language":"en","value":"Acme"}},"claims":{"P31":[{"id":"c","rank":"normal","mainsnak":{"snaktype":"value","property":"P31","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"Q43229"}}}}],"P26":[{"id":"c-s","rank":"normal","mainsnak":{"snaktype":"value","property":"P26","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"Q71"}}}}]}}"""
    val docs = spark.createDataset(Seq(
      person("Q70", Some("Q71")),   // person → person: link
      person("Q71", None),
      person("Q72", Some("Q77")),   // person → org: dropped
      org)).toDF("doc")              // org → person: dropped
    val out = Wikidata.relationships(Wikidata.parse(docs)).cache()
    val ids = out.select("entity_id").distinct().as[String].collect()
    assert(ids.toSeq === Seq("wd-p26-q70-q71"))
    val byProp = out.collect()
      .groupBy(_.getAs[String]("prop"))
      .view.mapValues(_.map(_.getAs[String]("value")).toSet).toMap
    assert(byProp("person") === Set("Q70"))
    assert(byProp("relative") === Set("Q71"))
    assert(byProp("relationship") === Set("spouse"))
    assert(byProp("startDate") === Set("1999"))
    assert(byProp("sourceUrl") === Set("https://ref.example/Q70"))
  }

  test("wikidata item xrefs against the donations store") {
    val item =
      """{"id":"Q99","modified":"2024-01-01T00:00:00Z","labels":{"en":{"language":"en","value":"Johanna Quandt"}},""" +
        q5 + "}}"
    val wdStmts = Wikidata.toStatementTable(stmtsOf(item))
    assert(wdStmts.filter(col("prop") === "name").count() === 1)

    val donations = EntityStore.statements(
      EntityStore.readIjson(spark,
        ReferenceFiles("tests/fixtures/donations.ijson")), "donations")
    val enricher = new DatasetEnricher("donations-mirror", donations)
    val cand = enricher.matchCandidates(spark, wdStmts)
      .orderBy(col("match_score").desc)
    val top = cand.head
    // the top candidate is a donations Johanna Quandt entity
    val topStmts = donations.filter(col("canonical_id") === top.getString(1)
      && col("prop") === "name")
    assert(topStmts.filter(lower(col("value")).contains("johanna quandt"))
      .count() > 0)
  }
}
