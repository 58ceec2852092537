package graft.enrich

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.store.EntityStore

/** Aleph-style enrichment over donations: collection scoping gates the
  * searchable mirror slice; matches carry aleph_url + publisher.
  */
class AlephSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")

  lazy val stmts = EntityStore.statements(
    EntityStore.readIjson(spark, fixture), "donations").cache()

  lazy val captions = EntityStore.assemble(stmts)
    .select(col("id"), col("caption")).cache()

  test("collection scoping and aleph decoration") {
    val jqId = captions.filter(col("caption") === "Johanna Quandt")
      .head.getString(0)
    val fjqId = captions.filter(col("caption") === "Frau Johanna Quandt")
      .head.getString(0)
    val query = stmts.filter(col("canonical_id") === jqId)
    // two collections: the duplicate lives in "b"
    val mirror = stmts.filter(col("canonical_id") =!= jqId)
      .withColumn("collection",
        when(col("canonical_id") === fjqId, "b").otherwise("a"))

    val inB = new AlephEnricher(mirror, host = "https://al.local/",
      collection = Some("b")).matchEntities(spark, query).cache()
    assert(inB.count() > 0)
    val best = inB.orderBy(col("match_score").desc).head
    assert(best.getString(1) === fjqId)
    assert(inB.filter(col("publisher") =!= "b").count() === 0)
    assert(best.getString(inB.columns.indexOf("aleph_url")) ===
      s"https://al.local/entities/$fjqId")

    // scoping to "a" hides the duplicate
    val inA = new AlephEnricher(mirror, collection = Some("a"))
      .matchEntities(spark, query)
    assert(inA.filter(col("candidate_id") === fjqId).count() === 0)
  }
}
