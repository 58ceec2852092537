package graft.xref

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.resolver.Resolver
import graft.store.EntityStore

/** The SURVEY §7.2 minimum end-to-end slice: dedupe the donations file.
  * ijson → statements → xref auto-merge → connected components →
  * canonical map → canonicalized statements → re-assembled entities →
  * ijson out, reproducing `nk xref` + `nk apply` + `nk sorted-aggregate`
  * in one DataFrame pipeline. The reference's own expectation: 474
  * entities in, fewer after merging, with the Johanna Quandt duplicate
  * collapsed into one entity.
  */
class DedupeEndToEndSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")

  test("donations dedupe: xref -> merge -> apply -> assemble -> ijson") {
    import spark.implicits._
    val stmts = EntityStore.statements(
      EntityStore.readIjson(spark, fixture), "donations").cache()
    assert(stmts.select("canonical_id").distinct().count() === 474L)

    // xref with auto-merge: high-confidence pairs become positive edges.
    // 0.5 separates true duplicates (~0.70 after the internal discount)
    // from family members sharing an address and surname (~0.35).
    val cfg = Xref.Config(algorithm = "regression-v1",
      autoThreshold = Some(0.5))
    val merges = Xref.run(spark, stmts,
      Seq.empty[(String, String)].toDF("src", "dst"), cfg)._1.cache()
    assert(merges.count() > 0)

    // components over the merge edges → canonical map → rewrite
    val cc = Resolver.connectedComponents(merges.select("src", "dst"))
    val cm = Resolver.canonicalMap(cc, id => lit(1))
    val canonical = stmts.join(
        broadcast(cm.withColumnRenamed("member", "canonical_id")
          .withColumnRenamed("canonical", "new_canonical")),
        Seq("canonical_id"), "left_outer")
      .withColumn("canonical_id",
        coalesce(col("new_canonical"), col("canonical_id")))
      .drop("new_canonical")

    // re-assemble: fewer entities than sources, all sources retained
    val merged = EntityStore.assemble(canonical).cache()
    val n = merged.count()
    assert(n < 474L, s"expected fewer than 474 entities, got $n")
    assert(canonical.select("entity_id").distinct().count() === 474L)

    // the Johanna Quandt duplicate pair must land in one merged entity
    // (tests/test_xref.py's expectation carried through apply/assemble);
    // cluster membership beyond the pair depends on the merge threshold
    val jRows = merged
      .filter(col("caption").isin("Johanna Quandt", "Frau Johanna Quandt"))
      .collect()
    assert(jRows.length === 1, "Johanna duplicate did not merge")
    assert(jRows.head.getAs[collection.Seq[String]]("referents").nonEmpty)
    val jNames = jRows.head
      .getAs[collection.Map[String, collection.Seq[String]]]("properties")
      .get("name").map(_.toSet).getOrElse(Set.empty[String])
    assert(Set("Johanna Quandt", "Frau Johanna Quandt").subsetOf(jNames))

    // write out as ijson lines: one line per merged entity
    val lines = EntityStore.toIjson(merged)
    assert(lines.count() === n)
  }
}
