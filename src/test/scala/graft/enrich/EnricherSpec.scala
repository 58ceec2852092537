package graft.enrich

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.store.EntityStore

/** Mirror-dataset enrichment over a donations split: the Person half
  * queried against a mirror containing the duplicates must surface the
  * Johanna Quandt pair and expand to the address entities.
  */
class EnricherSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")

  lazy val stmts = EntityStore.statements(
    EntityStore.readIjson(spark, fixture), "donations").cache()

  lazy val captions = EntityStore.assemble(stmts)
    .select(col("id"), col("caption")).cache()

  test("candidate scoring dereferences REFERENCED address entities") {
    import spark.implicits._
    // The mirror person holds its address ONLY through an addressEntity
    // ref; the referenced Address entity is its own canonical_id that
    // never appears in a candidate pair (the query side states its
    // address as a plain prop, so there is no q-side Address entity the
    // ref target could pair with), and the scoring views must widen one
    // hop to see it. With a shared referenced address the default
    // regression model's address_match fires; with a disjoint one it
    // must not — if the hop is dropped, both runs collapse to the same
    // (address-blind) score.
    def stmtsOf(rows: Seq[(String, String, Map[String, Seq[String]])]) =
      EntityStore.statements(
        rows.toDF("id", "schema", "properties"), "t")
    val q = stmtsOf(Seq(
      ("q1", "Person", Map("name" -> Seq("Maria Example Stone"),
        "address" -> Seq("123 Main Street Springfield")))))
    def mirrorWith(full: String) = stmtsOf(Seq(
      ("m1", "Person", Map("name" -> Seq("Maria Example Stone"),
        "addressEntity" -> Seq("addr2"))),
      ("addr2", "Address", Map("full" -> Seq(full)))))
    def scoreOf(mirror: org.apache.spark.sql.DataFrame): Double =
      new DatasetEnricher("m", mirror).matchCandidates(spark, q)
        .filter(col("query_id") === "q1" && col("candidate_id") === "m1")
        .head.getDouble(3)
    val same = scoreOf(mirrorWith("123 Main Street Springfield"))
    val diff = scoreOf(mirrorWith("Unrelated Lane 9 Elsewhere"))
    assert(same > diff)
  }

  test("dataset enricher matches the duplicate and expands candidates") {
    val jqId = captions.filter(col("caption") === "Johanna Quandt")
      .head.getString(0)
    val fjqId = captions.filter(col("caption") === "Frau Johanna Quandt")
      .head.getString(0)
    val query = stmts.filter(col("canonical_id") === jqId)
    val mirror = stmts.filter(col("canonical_id") =!= jqId)
    val enricher = new DatasetEnricher("donations-mirror", mirror)
    val cand = enricher.matchCandidates(spark, query).cache()
    assert(cand.count() > 0)
    val best = cand.orderBy(col("match_score").desc).head
    assert(best.getString(1) === fjqId)
    // expand pulls the candidate's statements + referenced addresses
    val expanded = enricher.expand(cand.limit(5))
    assert(expanded.filter(col("canonical_id") === fjqId).count() > 0)
    assert(expanded.filter(col("schema") === "Address").count() > 0)
  }
}
