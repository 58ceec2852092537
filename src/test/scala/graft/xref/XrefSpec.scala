package graft.xref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.store.EntityStore

/** [[Xref.run]]: the reference's own published expectation over its
  * donations fixture — the best-scoring suggestion for "Johanna Quandt"
  * is her duplicate "Frau Johanna Quandt" (`tests/test_xref.py:11-35`)
  * — and the discount, decided-pair, range, focus and auto-merge
  * gates, the partition of one scored pass into its two outputs and
  * the release of everything it built, over the in-repo
  * [[XrefCorpus]] (one dataset, Person and Company entities).
  */
class XrefSpec extends AnyFunSuite {
  import SparkSpec.spark

  lazy val fixture = ReferenceFiles("tests/fixtures/donations.ijson")

  lazy val corpus = XrefCorpus.statements(spark).cache()
  lazy val emptyDecided = {
    import spark.implicits._
    Seq.empty[(String, String)].toDF("src", "dst")
  }

  /** Every scored pair: with no auto threshold nothing merges, and the
    * corpus has fewer pairs than the default suggestion limit.
    */
  private def scored(cfg: Xref.Config,
      decided: DataFrame = emptyDecided): DataFrame = {
    assert(cfg.autoThreshold.isEmpty)
    Xref.run(spark, corpus, decided, cfg)._2
  }

  test("xref suggests the Johanna Quandt duplicate as her best match") {
    val stmts = EntityStore.statements(
      EntityStore.readIjson(spark, fixture), "donations").cache()
    val captions = EntityStore.assemble(stmts)
      .select(col("id"), col("caption"))
    // the reference scores xref with its regression DedupeAlgorithm
    // (xref.py:44); regression-v1 is our analogue — under logic-v1 the
    // whole Quandt family ties at 0.98 via address_entity_match, which
    // the reference would too
    val cfg = Xref.Config(algorithm = "regression-v1")
    val sugg = Xref.run(spark, stmts, emptyDecided, cfg)._2.cache()
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
    val pairs = scored(Xref.Config(algorithm = "logic-v1",
      discountInternal = 0.7))
    assert(pairs.count() > 0)
    // every pair is internal here → no score can exceed the discount cap
    assert(pairs.agg(max(col("score"))).head.getDouble(0) <= 0.7 + 1e-9)
  }

  test("decided pairs are excluded from suggestions") {
    import spark.implicits._
    val cfg = Xref.Config(algorithm = "logic-v1")
    val top = scored(cfg).select("lid", "rid").head()
    val decided = Seq((top.getString(0), top.getString(1))).toDF("src", "dst")
    val again = scored(cfg, decided)
      .filter(col("lid") === top.getString(0) &&
        col("rid") === top.getString(1))
    assert(again.count() === 0L)
  }

  test("schema-range gate keeps only pairs touching the range") {
    val schemas = EntityStore.assemble(corpus)
      .select(col("id"), col("schema"))
    def withSchemas(pairs: DataFrame): DataFrame = pairs
      .join(schemas.select(col("id").as("lid"), col("schema").as("ls")),
        Seq("lid"))
      .join(schemas.select(col("id").as("rid"), col("schema").as("rs")),
        Seq("rid"))
    val outside = col("ls") =!= "Person" && col("rs") =!= "Person"
    // the ungated run scores pairs outside the range, so the gate has
    // something to drop
    val cfg = Xref.Config(algorithm = "regression-v1")
    assert(withSchemas(scored(cfg)).filter(outside).count() > 0)
    val joined = withSchemas(scored(cfg.copy(range = Some("Person"))))
    assert(joined.count() > 0)
    assert(joined.filter(outside).count() === 0L)
  }

  test("focus-dataset gate: foreign focus set empties the batch") {
    val cfg = Xref.Config(algorithm = "regression-v1")
    assert(scored(cfg).count() > 0)
    assert(scored(cfg.copy(focusDatasets = Set("not-a-dataset")))
      .count() === 0L)
  }

  test("auto-merge splits high scores into edges") {
    val cfg = Xref.Config(algorithm = "logic-v1",
      autoThreshold = Some(0.6))
    val (merges, sugg) = Xref.run(spark, corpus, emptyDecided, cfg)
    assert(merges.count() > 0)
    assert(sugg.agg(max(col("score"))).head.getDouble(0) <= 0.6 + 1e-9)
  }

  test("run partitions one scored pass at the auto threshold") {
    def triples(df: DataFrame, cols: String*): Seq[(String, String, Double)] =
      df.select(cols.map(col): _*).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val all = triples(scored(Xref.Config(algorithm = "logic-v1")),
      "lid", "rid", "score")
    val t = 0.6
    val below = all.filter(_._3 <= t)
      .sortBy { case (l, r, score) => (-score, l, r) }
    assert(all.exists(_._3 > t) && below.size >= 2, s"scored: $all")
    // the same 50k candidate budget, with the limit binding or not
    for (limit <- Seq(5000, below.size - 1)) {
      val cfg = Xref.Config(algorithm = "logic-v1", autoThreshold = Some(t),
        limit = limit, limitFactor = 50000 / limit)
      val (merges, sugg) = Xref.run(spark, corpus, emptyDecided, cfg)
      // every merge is above the threshold, and every pair above it merges
      assert(triples(merges, "src", "dst", "score").toSet ===
        all.filter(_._3 > t).toSet)
      // the suggestions are the top-`limit` pairs at or below it, ordered
      assert(triples(sugg, "lid", "rid", "score") === below.take(limit))
    }
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
