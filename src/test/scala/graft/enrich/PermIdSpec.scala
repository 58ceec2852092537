package graft.enrich

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** PermID-style mirror enrichment: record fan-out with the wildcard
  * country and cap, LEI standard-identifier matches, lei-/permid- id
  * selection, status table, address cleanup, match dedup.
  */
class PermIdSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def orgs = Seq(
    ("P1", "LEI00000000000000001", "Acme Holdings", "DE",
      "1999-01-02", "Line 1\nBerlin\n", "tr-org:statusActive", "ACME"),
    ("P2", null, "Acme Holdings", "FR",
      "2001-05-06", "Rue 2\nParis", "tr-org:statusInActive", null),
    ("P3", null, "Other Org", "US",
      "2010-07-08", "Elm St 3", "tr-org:statusActive", null))
    .toDF("perm_id", "lei", "name", "country", "incorporation_date",
      "address_raw", "status_uri", "ticker")

  private def queries = Seq(
    // wildcard country added (small product) → both Acme orgs match
    ("q1", "Organization", Seq("Acme Holdings"), Seq("de"), null),
    // no countries at all → wildcard only
    ("q2", "Company", Seq("Acme Holdings"), Seq.empty[String], null),
    // LEI record matches P1 directly despite the alien name
    ("q3", "Organization", Seq("Zzz Nothing"), Seq.empty[String],
      "LEI00000000000000001"),
    // Person → gate closed
    ("q4", "Person", Seq("Acme Holdings"), Seq.empty[String], null))
    .toDF("id", "schema", "names", "countries", "lei")

  private def enricher = new PermIdEnricher(orgs)

  test("name + wildcard + LEI matching with dedup and ids") {
    val out = enricher.enrich(queries)
      .select("query_id", "match_id").as[(String, String)]
      .collect().toSet
    assert(out === Set(
      "q1" -> "lei-LEI00000000000000001", "q1" -> "permid-P2",
      "q2" -> "lei-LEI00000000000000001", "q2" -> "permid-P2",
      "q3" -> "lei-LEI00000000000000001"))
  }

  test("status table and multi-line address cleanup") {
    val rows = enricher.enrich(queries)
      .filter($"query_id" === "q1")
      .select("match_id", "status", "address", "topics")
      .as[(String, String, String, String)].collect().toMap2
    assert(rows("lei-LEI00000000000000001") ===
      ("Active", "Line 1, Berlin", "corp.public"))
    assert(rows("permid-P2") === ("Inactive", "Rue 2, Paris", null))
  }

  test("null-safe wildcard: NULL org country and NULL query countries") {
    // the wildcard record must match an org whose mirror row has no
    // country at all (array_contains over NULL is NULL, not false) and
    // a query whose countries column is NULL rather than empty (the
    // exact-country set itself is NULL) — both silently dropped before
    // the r13 null-safe residual
    val withNullCountry = orgs.unionByName(Seq(
      ("P4", Option.empty[String], "Null Country Org",
        Option.empty[String], "2005-01-01", "Addr 4",
        "tr-org:statusActive", Option.empty[String]))
      .toDF("perm_id", "lei", "name", "country", "incorporation_date",
        "address_raw", "status_uri", "ticker"))
    val qs = Seq(
      ("q5", "Organization", Seq("Null Country Org"),
        Option(Seq("de")), Option.empty[String]),
      ("q6", "Company", Seq("Null Country Org"),
        Option.empty[Seq[String]], Option.empty[String]))
      .toDF("id", "schema", "names", "countries", "lei")
    val out = new PermIdEnricher(withNullCountry).enrich(qs)
      .select("query_id", "match_id").as[(String, String)]
      .collect().toSet
    assert(out === Set("q5" -> "permid-P4", "q6" -> "permid-P4"))
  }

  test("cap: the record product slices to maxRecords") {
    val many = Seq(("qx", "Organization",
      (1 to 60).map(i => s"Name $i"), (1 to 30).map(_ => "de"), null))
      .toDF("id", "schema", "names", "countries", "lei")
    // 60 names x (1 distinct country, no room for wildcard at cap 60)
    val capped = new PermIdEnricher(orgs, maxRecords = 60)
    // nothing matches, but the fan-out itself must not exceed the cap
    assert(capped.enrich(many).count() === 0)
  }

  private implicit class MapOps(
      rows: Array[(String, String, String, String)]) {
    def toMap2: Map[String, (String, String, String)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
}
