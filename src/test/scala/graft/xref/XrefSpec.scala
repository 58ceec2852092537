package graft.xref

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.store.EntityStore

/** End-to-end xref over the reference's donations fixture, asserting its
  * own published expectation: the best-scoring suggestion for
  * "Johanna Quandt" is her duplicate "Frau Johanna Quandt"
  * (`tests/test_xref.py:11-35`).
  */
class XrefSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")

  lazy val entities = EntityStore.readIjson(spark, fixture).cache()
  lazy val stmts = EntityStore.statements(entities, "donations").cache()
  lazy val emptyDecided = {
    import spark.implicits._
    Seq.empty[(String, String)].toDF("src", "dst")
  }

  lazy val captions = EntityStore.assemble(stmts)
    .select(col("id"), col("caption"))

  test("xref suggests the Johanna Quandt duplicate as her best match") {
    // the reference scores xref with its regression DedupeAlgorithm
    // (xref.py:44); regression-v1 is our analogue — under logic-v1 the
    // whole Quandt family ties at 0.98 via address_entity_match, which
    // the reference would too
    val cfg = Xref.Config(algorithm = "regression-v1")
    val sugg = Xref.suggestions(spark, stmts, emptyDecided, cfg).cache()
    assert(sugg.count() > 0)
    val named = sugg
      .join(captions.select(col("id").as("lid"), col("caption").as("lcap")),
        Seq("lid"))
      .join(captions.select(col("id").as("rid"), col("caption").as("rcap")),
        Seq("rid"))
      .cache()
    // mirror tests/test_xref.py:27-35: among suggestions where one side
    // is captioned exactly "Johanna Quandt", the best-scoring partner is
    // her duplicate
    val johanna = named.filter(
      col("lcap") === "Johanna Quandt" || col("rcap") === "Johanna Quandt")
      .orderBy(col("score").desc)
      .select("lcap", "rcap", "score").collect()
    assert(johanna.nonEmpty, "no suggestions for Johanna Quandt")
    val best = johanna.head
    val partner =
      if (best.getString(0) == "Johanna Quandt") best.getString(1)
      else best.getString(0)
    assert(partner === "Frau Johanna Quandt",
      s"best Johanna suggestion was $partner")
  }

  test("same-dataset discount applies (single-dataset corpus)") {
    val cfg = Xref.Config(algorithm = "logic-v1", discountInternal = 0.7)
    val scored = Xref.scoredPairs(spark, stmts, emptyDecided, cfg)
    // every pair is internal here → no score can exceed the discount cap
    assert(scored.agg(max(col("score"))).head.getDouble(0) <= 0.7 + 1e-9)
  }

  test("decided pairs are excluded from suggestions") {
    import spark.implicits._
    val cfg = Xref.Config(algorithm = "logic-v1")
    val top = Xref.suggestions(spark, stmts, emptyDecided, cfg)
      .select("lid", "rid").head()
    val decided = Seq((top.getString(0), top.getString(1))).toDF("src", "dst")
    val again = Xref.suggestions(spark, stmts, decided, cfg)
      .filter(col("lid") === top.getString(0) &&
        col("rid") === top.getString(1))
    assert(again.count() === 0L)
  }

  test("schema-range gate keeps only pairs touching the range") {
    val cfg = Xref.Config(algorithm = "regression-v1",
      range = Some("Person"))
    val scored = Xref.scoredPairs(spark, stmts, emptyDecided, cfg)
    val schemas = EntityStore.assemble(stmts)
      .select(col("id"), col("schema"))
    val joined = scored
      .join(schemas.select(col("id").as("lid"), col("schema").as("ls")),
        Seq("lid"))
      .join(schemas.select(col("id").as("rid"), col("schema").as("rs")),
        Seq("rid"))
    assert(joined.count() > 0)
    assert(joined.filter(col("ls") =!= "Person" && col("rs") =!= "Person")
      .count() === 0L)
  }

  test("focus-dataset gate: foreign focus set empties the batch") {
    val cfg = Xref.Config(algorithm = "regression-v1",
      focusDatasets = Set("not-a-dataset"))
    assert(Xref.scoredPairs(spark, stmts, emptyDecided, cfg).count() === 0L)
  }

  test("auto-merge splits high scores into edges") {
    val cfg = Xref.Config(algorithm = "logic-v1",
      autoThreshold = Some(0.6))
    val merges = Xref.autoMerges(spark, stmts, emptyDecided, cfg)
    val sugg = Xref.suggestions(spark, stmts, emptyDecided, cfg)
    assert(merges.count() > 0)
    assert(sugg.agg(max(col("score"))).head.getDouble(0) <= 0.6 + 1e-9)
  }

  test("run() partitions one scored pass into the same two outputs") {
    val cfg = Xref.Config(algorithm = "logic-v1",
      autoThreshold = Some(0.6))
    val (merges, sugg) = Xref.run(spark, stmts, emptyDecided, cfg)
    val merges2 = Xref.autoMerges(spark, stmts, emptyDecided, cfg)
    val sugg2 = Xref.suggestions(spark, stmts, emptyDecided, cfg)
    assert(merges.exceptAll(merges2).count() === 0L)
    assert(merges2.exceptAll(merges).count() === 0L)
    assert(sugg.count() === sugg2.count())
  }

  test("run leaves only its scored table persisted, run after run") {
    val sc = spark.sparkContext
    val corpus = XrefCorpus.statements(spark)
    val cfg = Xref.Config(algorithm = "logic-v1", autoThreshold = Some(0.6))
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val added = (1 to 2).map { _ =>
      val start = persisted
      val (merges, sugg) = Xref.run(spark, corpus, emptyDecided, cfg)
      assert(merges.count() > 0 && sugg.count() > 0)
      persisted -- start
    }
    // each run holds exactly one frame: its DISK_ONLY scored table; the
    // entries, TF, assembled entities and views it built are released
    added.foreach { ids =>
      assert(ids.size === 1, s"persisted after run: $ids")
      assert(sc.getPersistentRDDs(ids.head).getStorageLevel ===
        StorageLevel.DISK_ONLY)
    }
    added.flatten.foreach(id => sc.getPersistentRDDs(id).unpersist())
  }
}
