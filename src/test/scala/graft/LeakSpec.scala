package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Each entry point that materializes an intermediate, run on the
  * suite's shared session, leaves its `CacheManager` as it found it.
  * One that consumes everything before it returns also leaves no RDD
  * persisted that was not persisted before; one that returns a frame
  * may leave the checkpoint that frame reads, whose blocks go with it.
  */
class LeakSpec extends AnyFunSuite {
  import SparkSpec.{cachedEntries, spark}
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** `body`, checked to leave no cache entry and, when `consumed`, no
    * newly persisted RDD behind.
    */
  private def leavesNothing[T](consumed: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    val entries = cachedEntries
    val rdds = sc.getPersistentRDDs.keySet
    val out = body
    assert(cachedEntries === entries, "a cache entry was left behind")
    if (consumed) {
      val added = sc.getPersistentRDDs.keySet -- rdds
      assert(added.isEmpty, s"RDDs left persisted: ${added.mkString(", ")}")
    }
    out
  }

  /** Docs 1 and 2 share a 40-word block; 3 and 4 stand alone. */
  private def docs: DataFrame = {
    def words(p: String, n: Int) = (0 until n)
      .map(i => s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
      .mkString(" ")
    val block = words("bl", 40)
    Seq((1L, s"pa pb $block"), (2L, s"$block sb sc"), (3L, "aaab ab ab"),
      (4L, words("zz", 30))).toDF("doc_id", "text")
  }

  test("Propose.enrich through a Held") {
    val snaks = Seq[(String, String, String, String, String)](
      ("Q1", "main", "P31", "Q5", null),
      ("Q1", "label", null, null, "Johanna Quandt"))
      .toDF("qid", "role", "prop", "vEntity", "vString")
    val stmts = store.EntityStore.statements(Seq(("e1", "Person",
      Map("name" -> Seq("Johanna Quandt"), "alias" -> Seq("J. Quandt"),
        "birthDate" -> Seq("1926-06-21")))).toDF("id", "schema", "properties"),
      "t")
    val lines = leavesNothing(consumed = true)(Caches.holding(
      enrich.Propose.enrich(_)(Seq(("e1", "Q1")).toDF("entity_id", "qid"),
        stmts, snaks, Seq.empty[(String, String, String, String)]
          .toDF("entity_id", "pos_qid", "start", "end")).count()))
    assert(lines > 0)
  }

  test("ResolveStream.applyBatch") {
    val path = SparkSpec.tempDir("leak-resolve") + "/state"
    streaming.ResolveStream.init(resolver.Resolver.connectedComponents(
      Seq("a" -> "b", "c" -> "d").toDF("src", "dst")), path, nBuckets = 2)
    leavesNothing(consumed = true)(streaming.ResolveStream.applyBatch(
      spark, Seq("b" -> "c").toDF("src", "dst"), path, "b1"))
    assert(streaming.ResolveStream.state(spark, path)
      .filter(col("cluster") === "a").count() === 4)
  }

  test("SearchIndex.refresh") {
    val root = SparkSpec.tempDir("leak-search") + "/idx"
    def texts(rows: (Long, String)*) =
      rows.toDF("doc_id", "text").withColumn("source", lit("s"))
    search.SearchIndex.init(spark, root, texts((1L, "alpha beta"),
      (2L, "gamma")))
    leavesNothing(consumed = true)(search.SearchIndex.refresh(spark, root,
      texts((1L, "alpha delta"), (3L, "beta")), "v2"))
    assert(search.SearchIndex.stats(spark, root).head().getLong(0) === 3L)
  }

  test("Training.trainLogistic") {
    val train = Seq((1, 0.9), (1, 0.8), (0, 0.1), (0, 0.2))
      .toDF("label", "f_name")
    val m = leavesNothing(consumed = true)(
      matching.Training.trainLogistic(train, Seq("f_name"), epochs = 5))
    assert(m.weights.head > 0.0)
  }

  test("Classifier.train") {
    val feat = textanalysis.Classifier.featuresOf(Tables.documents(spark, sf))
    leavesNothing(consumed = true)(textanalysis.Classifier.train(feat))
  }

  test("Bpe.trainMerges and encodeOf") {
    val vocab = textanalysis.Bpe.vocabulary(docs)
    val merges = leavesNothing(consumed = true)(
      textanalysis.Bpe.trainMerges(vocab, 4))
    assert(merges.size === 4)
    val encoded = leavesNothing(consumed = false)(
      textanalysis.Bpe.encodeOf(docs).collect())
    assert(encoded.length === 4)
  }

  test("Nominatim.geocode") {
    val gaz = Seq((10L, "node", "5", "city1", "c3", "5 Market Street",
      "C3", "City1", "State0", "10010"))
      .toDF("osm_id", "osm_type", "g_num", "g_city", "g_country",
        "display_name", "g_country_name", "g_city_name", "g_state_name",
        "g_postcode")
    val addrs = Seq(("a1", "5 market street city1", "C3"))
      .toDF("id", "full", "country")
    val out = leavesNothing(consumed = false)(
      new enrich.NominatimEnricher(gaz).geocode(spark, addrs).collect())
    assert(out.map(_.getString(1)).toSeq === Seq("osm-node-10"))
  }

  test("the DedupQueries seams") {
    import dedup.DedupQueries
    val clusters = leavesNothing(consumed = true)(
      DedupQueries.clustersOf(docs).collect())
    assert(clusters.map(_.getAs[Any]("doc_id").toString).toSet ===
      Set("1", "2"))
    for ((name, of) <- Seq[(String, DataFrame => DataFrame)](
        "lshPairsOf" -> DedupQueries.lshPairsOf,
        "incrementalOf" -> DedupQueries.incrementalOf,
        "spansOf" -> DedupQueries.spansOf,
        "substrOf" -> DedupQueries.substrOf))
      withClue(name)(leavesNothing(consumed = false)(of(docs).collect()))
  }
}
