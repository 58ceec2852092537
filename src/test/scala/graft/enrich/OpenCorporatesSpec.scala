package graft.enrich

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.text.Territories

/** OpenCorporates-style mirror enrichment: query gating (schema,
  * already-linked, unparseable caption), clean_query, country
  * filtering/resolution, the skip-jurisdiction rule, jurisdiction
  * subdivision handling and oc-slug entity ids.
  */
class OpenCorporatesSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def registry = Seq(
    ("Shell & Tube GmbH", "HRB1", "de",
      "https://opencorporates.com/companies/de/HRB1",
      "GmbH", "1999-01-02", "Active"),
    ("Shell & Tube GmbH", "00112", "us_de",
      "https://opencorporates.com/companies/us_de/00112",
      "LLC", "2001-05-06", "Active"),
    ("Pristina Holdings", "K9", "xk",
      "https://opencorporates.com/companies/xk/K9",
      "SH.P.K.", "2010-07-08", "Active"))
    .toDF("name", "company_number", "jurisdiction_code",
      "opencorporates_url", "company_type", "incorporation_date",
      "current_status")

  private def queries = Seq(
    // reserved chars cleaned; de restriction → only the de company
    ("q1", "Company", "Shell & Tube {GmbH}", null, Seq("de")),
    // no countries → both Shell companies
    ("q2", "Organization", "shell  &  tube gmbh", null, Seq.empty[String]),
    // gi resolves to gb → no gb company → no match
    ("q3", "Company", "Shell & Tube GmbH", null, Seq("gi")),
    // historical + unknown codes drop out → unrestricted search
    ("q4", "LegalEntity", "Shell & Tube GmbH", null, Seq("SUHH", "zz")),
    // all-skip-listed country set → not searched at all
    ("q5", "Company", "Pristina Holdings", null, Seq("xk")),
    // Person schema → skipped
    ("q6", "Person", "Shell & Tube GmbH", null, Seq("de")),
    // already linked → skipped
    ("q7", "Company", "Shell & Tube GmbH",
      "https://opencorporates.com/companies/de/HRB1", Seq("de")),
    // caption cleans to empty → skipped
    ("q8", "Company", "(&*)", null, Seq("de")))
    .toDF("id", "schema", "caption", "oc_url", "countries")

  test("search gating, country resolution, slug ids") {
    val out = new OpenCorporatesEnricher(registry)
      .enrich(queries)
      .select("query_id", "match_id").as[(String, String)]
      .collect().toSet
    assert(out === Set(
      "q1" -> "oc-companies-de-hrb1",
      "q2" -> "oc-companies-de-hrb1",
      "q2" -> "oc-companies-us-de-00112",
      "q4" -> "oc-companies-de-hrb1",
      "q4" -> "oc-companies-us-de-00112"))
  }

  test("company entity shape: jurisdiction root, renamed fields") {
    val row = new OpenCorporatesEnricher(registry)
      .enrich(queries)
      .filter($"match_id" === "oc-companies-us-de-00112")
      .select("name", "jurisdiction", "registration_number",
        "legal_form", "incorporation_date", "status")
      .distinct().as[(String, String, String, String, String, String)]
      .collect().toSeq
    assert(row === Seq(("Shell & Tube GmbH", "us", "00112", "LLC",
      "2001-05-06", "Active")))
  }

  test("ftmCountry: parents, historical, unknown, kosovo") {
    assert(Territories.ftmCountry("gi") === Some("gb"))
    assert(Territories.ftmCountry("UA-CRI") === Some("ua"))
    assert(Territories.ftmCountry("hk") === Some("cn"))
    assert(Territories.ftmCountry("xk") === Some("xk"))
    assert(Territories.ftmCountry("suhh") === None)
    assert(Territories.ftmCountry("su") === None)
    assert(Territories.ftmCountry("zz") === None)
    assert(Territories.ftmCountry("de") === Some("de"))
  }
}
