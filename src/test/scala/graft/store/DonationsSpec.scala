package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.blocker.EntityTokenizer

/** Ingestion anchored on the reference's own canonical fixture
  * (`tests/fixtures/donations.ijson`) and its published expectations:
  * 474 entities round-trip (`tests/store/test_memory.py:66`), caption of
  * `4e0bd810…` is "Tchibo Holding AG" with 2 adjacent entities
  * (`tests/store/test_stores.py:21-60`), and the blocker indexes exactly
  * 184 matchable entities (`tests/blocker/test_index.py:119-128`).
  */
class DonationsSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")
  val tchibo = "4e0bd810e1fcb49990a2b31709b6140c4c9139c5"

  lazy val entities = EntityStore.readIjson(spark, fixture).cache()
  lazy val stmts = EntityStore.statements(entities, "donations").cache()
  lazy val assembled = EntityStore.assemble(stmts).cache()

  test("ijson reader loads 474 entities") {
    assert(entities.count() === 474L)
    assert(entities.filter(col("id").isNull).count() === 0L)
  }

  test("statement explode covers every entity, typed") {
    assert(stmts.select("entity_id").distinct().count() === 474L)
    val types = stmts.select("prop_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types.contains("name") && types.contains("entity") &&
      types.contains("date") && types.contains("country"))
    // every statement row carries the full 14-column schema
    assert(stmts.columns.toSeq === EntityStore.statementCols)
  }

  test("assembly round-trips all entities") {
    assert(assembled.count() === 474L)
  }

  test("Tchibo Holding AG assembles with caption and 2 adjacent") {
    val row = assembled.filter(col("id") === tchibo)
      .select("caption", "schema").head()
    assert(row.getString(0) === "Tchibo Holding AG")
    assert(row.getString(1) === "Company")

    import spark.implicits._
    val subj = Seq(tchibo).toDF("sid")
    val adj = EntityStore.adjacency(stmts, subj)
    assert(adj.count() === 2L)
    // one out-edge (addressEntity) and one in-edge (a Payment's payer)
    val dirs = adj.groupBy("dir").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dirs === Map("out" -> 1L, "in" -> 1L))
  }

  test("entity writer round-trips through ijson lines") {
    val lines = EntityStore.toIjson(assembled.filter(col("id") === tchibo))
      .collect().map(_.getString(0))
    assert(lines.length === 1)
    assert(lines.head.contains("\"Tchibo Holding AG\""))
    assert(lines.head.startsWith("{\"id\":\"" + tchibo))
  }

  test("typed tokenizer indexes exactly the 184 matchable entities") {
    val e = EntityTokenizer.entries(stmts)
    assert(e.select("id").distinct().count() === 184L)
    // Payment entities (290 of them) are not matchable → never indexed
    assert(e.filter(col("schema") === "Payment").count() === 0L)
  }

  test("tokenizer emits typed prefixes") {
    val e = EntityTokenizer.entries(stmts).cache()
    val fields = e.select("field").distinct().collect()
      .map(_.getString(0)).toSet
    assert(fields.contains("name") && fields.contains("np") &&
      fields.contains("country") && fields.contains("address"))
    // name fingerprint: sorted distinct parts, folded — "Tchibo Holding AG"
    val fp = e.filter(col("id") === tchibo && col("field") === "name")
      .select("token").collect().map(_.getString(0))
    assert(fp.contains("n:agholdingtchibo"))
  }
}
