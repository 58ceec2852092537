package graft.enrich

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** BrightQuery-style mirror enrichment: name fallback, id guards,
  * skip-jurisdiction gate, longest-address payload pick, top-N
  * ranking by revenue/headcount.
  */
class BrightQuerySpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def records = Seq(
    ("bq-le-1", "Org A", "Acme Inc", "Acme Organization",
      900L, 50L),
    ("bq-le-2", "Org A", "Acme Inc", "Acme Organization",
      500L, 10L),
    // no legal name → falls back to the org name
    (null, "Org B", null, "Beta Group", 100L, 5L),
    // no legal id → bqo- fallback from the org id
    (null, "Org C!", "Gamma LLC", "Gamma Organization", 50L, 2L),
    // foreign prefix → dropped
    ("zz-55", "Org D", "Acme Inc", "Acme Organization", 999L, 99L),
    // both ids missing → dropped
    (null, null, "Acme Inc", "Acme Organization", 999L, 99L))
    .toDF("bq_legal_entity_id", "bq_organization_id",
      "bq_legal_entity_name", "bq_organization_name",
      "bq_revenue", "bq_employees")
    .withColumn("bq_website", org.apache.spark.sql.functions.lit("w"))
    .withColumn("bq_legal_entity_address_summary",
      org.apache.spark.sql.functions.lit("a"))
    .withColumn("bq_legal_entity_jurisdiction_code",
      org.apache.spark.sql.functions.lit("CA"))
    .withColumn("bq_legal_entity_date_founded",
      org.apache.spark.sql.functions.lit("2000-01-01"))

  private def queries = Seq(
    ("q1", "Organization", Seq("Acme Inc"), Seq("us"),
      Seq("Short", "A very long address indeed")),
    ("q2", "Organization", Seq("Beta Group", "Gamma LLC"),
      Seq.empty[String], Seq.empty[String]),
    ("q3", "Organization", Seq("Acme Inc"), Seq("xk"),
      Seq.empty[String]), // skip-listed
    ("q4", "Person", Seq("Acme Inc"), Seq("us"), Seq.empty[String]))
    .toDF("id", "schema", "names", "countries", "addresses")

  test("matching, id guards, fallbacks, ranking") {
    val out = new BrightQueryEnricher(records)
      .enrich(queries)
      .select("query_id", "match_id").as[(String, String)]
      .collect().toSet
    assert(out === Set(
      "q1" -> "bq-le-1", "q1" -> "bq-le-2",
      "q2" -> "bqo-org-b", "q2" -> "bqo-org-c"))
  }

  test("top-N window ranks by revenue then headcount") {
    val out = new BrightQueryEnricher(records, perQuery = 1)
      .enrich(queries)
      .filter($"query_id" === "q1")
      .select("match_id").as[String].collect().toSeq
    assert(out === Seq("bq-le-1")) // revenue 900 beats 500
  }
}
