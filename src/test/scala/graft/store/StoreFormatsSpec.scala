package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}

/** Statement CSV / pack round-trips and versioned-store semantics over
  * the donations fixture (reference `cli.py:322-334`,
  * `store/util.py:7-47`, `store/versioned.py:62-153`).
  */
class StoreFormatsSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")
  lazy val stmts = EntityStore.statements(
    EntityStore.readIjson(spark, fixture), "donations").cache()

  test("statement CSV round-trips") {
    val tmp = Files.createTempDirectory("graft-csv").toString + "/stmts"
    StatementFormats.writeCsv(stmts, tmp)
    val back = StatementFormats.readCsv(spark, tmp)
    assert(back.count() === stmts.count())
    assert(back.columns.toSeq === EntityStore.statementCols)
    // content equality on the key columns
    val a = stmts.select("id", "entity_id", "prop", "value")
    val b = back.select("id", "entity_id", "prop", "value")
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  test("pack/unpack round-trips") {
    val packed = StatementFormats.pack(stmts)
    val back = StatementFormats.unpack(packed)
    val a = stmts.select("id", "entity_id", "canonical_id", "prop",
      "prop_type", "schema", "value", "dataset")
    val b = back.select("id", "entity_id", "canonical_id", "prop",
      "prop_type", "schema", "value", "dataset")
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  test("pack/unpack preserves the external gate and CSV survives newlines") {
    import spark.implicits._
    // external=true must survive the wire form — dropping it would let
    // unvetted enrichment statements re-enter default store views
    val ext = stmts.limit(3).withColumn("external", lit(true))
    val extBack = StatementFormats.unpack(StatementFormats.pack(ext))
    assert(extBack.filter(col("external")).count() === 3L)
    // CSV: embedded newline and a genuinely-null original_value
    val tricky = stmts.limit(1)
      .withColumn("value", lit("1 Main St\nSpringfield"))
      .withColumn("original_value", lit(null).cast("string"))
    val tmp = Files.createTempDirectory("graft-csvn").toString + "/stmts"
    StatementFormats.writeCsv(tricky, tmp)
    val back = StatementFormats.readCsv(spark, tmp)
    assert(back.count() === 1L)
    assert(back.head.getAs[String]("value") === "1 Main St\nSpringfield")
    assert(back.head.getAs[String]("original_value") === null)
  }

  test("versioned store: write, release, latest, delta, drop") {
    val base = Files.createTempDirectory("graft-vs").toString
    val store = new VersionedStore(base)
    store.write(stmts, "donations", "v1")
    store.release("donations", "v1")
    assert(store.latest("donations") === Some("v1"))
    assert(store.read(spark, "donations").count() === stmts.count())

    // v2: drop one entity entirely, modify another (remove one statement)
    val victims = stmts.select("entity_id").distinct()
      .orderBy("entity_id").limit(2).collect().map(_.getString(0))
    val (del, mod) = (victims(0), victims(1))
    val modStmtId = stmts.filter(col("entity_id") === mod)
      .select("id").orderBy("id").head.getString(0)
    val v2 = stmts.filter(col("entity_id") =!= del && col("id") =!= modStmtId)
    store.write(v2, "donations", "v2")
    store.release("donations", "v2")
    assert(store.versions("donations") === Seq("v1", "v2"))

    val delta = store.delta(spark, "donations", "v1", "v2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(delta.get(del) === Some("DEL"))
    assert(delta.get(mod) === Some("MOD"))
    assert(delta.size === 2)

    store.drop("donations", "v1")
    assert(store.versions("donations") === Seq("v2"))
  }

  test("upsert dedupes on statement id") {
    val base = Files.createTempDirectory("graft-vs2").toString
    val store = new VersionedStore(base)
    store.write(stmts.unionAll(stmts), "dup", "v1")
    store.release("dup", "v1")
    assert(store.read(spark, "dup").count() === stmts.count())
  }
}
