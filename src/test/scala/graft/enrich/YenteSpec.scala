package graft.enrich

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.model.Ftm
import graft.store.EntityStore

/** Yente-style match-service enrichment over donations: matchable-prop
  * query shaping, cutoff, sourceUrl decoration, namespace stripping
  * and the nested expand with reverse-property injection.
  */
class YenteSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")

  lazy val stmts = EntityStore.statements(
    EntityStore.readIjson(spark, fixture), "donations").cache()

  lazy val captions = EntityStore.assemble(stmts)
    .select(col("id"), col("caption")).cache()

  private lazy val jqId = captions
    .filter(col("caption") === "Johanna Quandt").head.getString(0)
  private lazy val fjqId = captions
    .filter(col("caption") === "Frau Johanna Quandt").head.getString(0)

  test("matchable query drops entity-type and non-matchable props") {
    val y = new YenteEnricher(stmts)
    val shaped = y.matchableQuery(stmts)
    // entity references (addressEntity) never enter the query payload
    assert(shaped.filter(col("prop_type") === "entity").count() === 0)
    // non-matchable props (e.g. Thing.notes/sourceUrl) are dropped
    assert(shaped.filter(col("prop") === "sourceUrl").count() === 0)
    // matchable names survive
    assert(shaped.filter(col("prop") === "name").count() > 0)
  }

  test("match with cutoff keeps the duplicate, decorates sourceUrl") {
    val query = stmts.filter(col("canonical_id") === jqId)
    val mirror = stmts.filter(col("canonical_id") =!= jqId)
    val y = new YenteEnricher(mirror, api = "http://y.local/",
      cutoff = Some(0.5))
    val out = y.matchEntities(spark, query).cache()
    val best = out.orderBy(col("match_score").desc).head
    assert(best.getString(1) === fjqId)
    assert(out.filter(col("match_score") < 0.5).count() === 0)
    assert(best.getString(out.columns.indexOf("source_url")) ===
      s"http://y.local/entities/$fjqId")
  }

  test("namespace stripping removes the signature suffix") {
    val query = stmts.filter(col("canonical_id") === jqId)
    // namespace-sign the mirror ids the way FtM's Namespace does
    val mirror = stmts.filter(col("canonical_id") =!= jqId)
      .withColumn("canonical_id", concat(col("canonical_id"), lit(".sig99")))
      .withColumn("entity_id", col("canonical_id"))
    val y = new YenteEnricher(mirror, stripNamespace = true)
    val out = y.matchEntities(spark, query).cache()
    assert(out.count() > 0)
    // ids come back unsigned, but the sourceUrl keeps the signed id
    assert(out.filter(col("candidate_id").contains(".sig99")).count() === 0)
    assert(out.filter(col("source_url").contains(".sig99")).count() ===
      out.count())
  }

  test("nested expand injects configured reverse properties") {
    val query = stmts.filter(col("canonical_id") === jqId)
    val mirror = stmts.filter(col("canonical_id") =!= jqId)
    val y = new YenteEnricher(mirror,
      reverses = Map(("Person", "addressEntity") -> "things"))
    val cands = y.matchEntities(spark, query).limit(5)
    val nested = y.expandNested(cands).cache()
    // the plain pull still carries the candidate + its addresses
    assert(nested.filter(col("canonical_id") === fjqId).count() > 0)
    val rev = nested.filter(col("prop") === "things").cache()
    assert(rev.count() > 0)
    // reverse rows sit on the Address side and point back at a person
    assert(rev.filter(col("schema") =!= "Address").count() === 0)
    assert(rev.filter(col("prop_type") =!= "entity").count() === 0)
    // default (stub reverses): no injection
    val plain = new YenteEnricher(mirror).expandNested(cands)
    assert(plain.filter(col("prop") === "things").count() === 0)
  }

  test("matchable prop table derives from the ontology") {
    assert(YenteEnricher.matchableProps.contains("Person:name"))
    assert(!YenteEnricher.matchableProps.contains("Person:addressEntity"))
    assert(!YenteEnricher.matchableProps.exists(_.startsWith("Family:")))
    assert(Ftm.isMatchable("Person"))
  }
}
