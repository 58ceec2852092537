package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}

/** Versioned-store semantics over the donations fixture (reference
  * `store/versioned.py:62-153`).
  */
class VersionedStoreSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")
  lazy val stmts = EntityStore.statements(
    EntityStore.readIjson(spark, fixture), "donations").cache()

  test("versioned store: write, release, latest, delta, drop") {
    val base = SparkSpec.tempDir("graft-vs")
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
    val base = SparkSpec.tempDir("graft-vs2")
    val store = new VersionedStore(base)
    store.write(stmts.unionAll(stmts), "dup", "v1")
    store.release("dup", "v1")
    assert(store.read(spark, "dup").count() === stmts.count())
  }
}
