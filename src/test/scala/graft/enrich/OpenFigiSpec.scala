package graft.enrich

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** OpenFIGI-style mirror enrichment: the composite-FIGI filter and
  * keep-query-id contract on the ISIN path.
  */
class OpenFigiSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def mapping = Seq(
    // composite listing of AAPL
    ("BBG000B9XRY4", "BBG000B9XRY4", "US0378331005", "Apple Inc",
      "AAPL", "Common Stock", "APPLE INC"),
    // exchange-level listing of the same ISIN → dropped
    ("BBG000B9Y5X2", "BBG000B9XRY4", "US0378331005", "Apple Inc",
      "AAPL", "Common Stock", "APPLE INC"),
    // instrument with no composite recorded → kept
    ("BBG00NOCOMP0", null, "DE0005557508", "Deutsche Telekom",
      "DTE", "Common Stock", "DT AG"))
    .toDF("figi", "composite_figi", "isin", "name", "ticker",
      "security_type", "security_description")

  private def queries = Seq(
    ("sec1", "Security", "US0378331005", null),
    ("sec2", "Security", null, null), // no ISIN → skipped
    ("sec3", "Company", "DE0005557508", null), // wrong schema for ISIN path
    ("org1", "Organization", null, "Apple Inc"),
    ("org2", "Organization", null, "No Such Issuer"))
    .toDF("id", "schema", "isin", "name")

  private def enricher = new OpenFigiEnricher(mapping)

  test("match_security: composite filter, query id kept") {
    val out = enricher.matchSecurities(queries)
      .select("query_id", "figi_code").as[(String, String)]
      .collect().toSet
    assert(out === Set("sec1" -> "BBG000B9XRY4"))

    val noComposite = enricher.matchSecurities(
      Seq(("s", "Security", "DE0005557508", null))
        .toDF("id", "schema", "isin", "name"))
      .select("figi_code").as[String].collect().toSeq
    assert(noComposite === Seq("BBG00NOCOMP0"))
  }
}
