package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.store.MergeLake

/** The maintained BM25 postings index must be indistinguishable from a
  * full rebuild after any fold sequence: new documents, a re-ingest
  * that DROPS terms (the tombstone path), a replay of a committed
  * generation, and compaction — postings set-equal, (n_docs, avgdl)
  * bit-equal, and the BM25 ranking itself identical.
  */
class SearchIndexSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text").withColumn("source", lit("s"))

  private def postSet(df: DataFrame): Set[(Long, String, Long, Long)] =
    df.select(col("doc_id"), col("term"), col("tf"), col("dl"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def statsOf(df: DataFrame): (Long, Double) = {
    val r = df.head()
    (r.getLong(0), r.getDouble(1))
  }

  test("folds reproduce the full rebuild: adds, drops, replay, compact") {
    val root = SparkSpec.tempDir("searchidx-spec") + "/idx"
    val d0 = docs(
      (1L, "alpha beta beta gamma"),
      (2L, "alpha delta"),
      (3L, "epsilon zeta eta theta"))
    SearchIndex.init(spark, root, d0)
    assert(postSet(SearchIndex.postings(spark, root)) ===
      postSet(Search.postingsOf(d0)))
    assert(statsOf(SearchIndex.stats(spark, root)) === ((3L, 10.0 / 3)))

    // increment 1: a new document
    val d1 = docs((4L, "beta beta kappa"))
    SearchIndex.refresh(spark, root, d1, "v2")
    // increment 2: doc 1 re-ingested with beta/gamma DROPPED and a
    // shorter length — its stale postings must tombstone away
    val d2 = docs((1L, "alpha lambda"))
    SearchIndex.refresh(spark, root, d2, "v3")

    val finalCorpus = docs(
      (1L, "alpha lambda"),
      (2L, "alpha delta"),
      (3L, "epsilon zeta eta theta"),
      (4L, "beta beta kappa"))
    def assertEqualsRebuild(): Unit = {
      assert(postSet(SearchIndex.postings(spark, root)) ===
        postSet(Search.postingsOf(finalCorpus)))
      // 2 + 2 + 4 + 3 = 11 words over 4 docs — one double division
      // over exact integer totals, like the rebuild's
      assert(statsOf(SearchIndex.stats(spark, root)) === ((4L, 11.0 / 4)))
      val qt = Seq((1, "alpha"), (1, "beta"), (2, "beta"))
      val got = Search.bm25Core(spark,
          SearchIndex.postings(spark, root), qt,
          statsPre = Some(SearchIndex.stats(spark, root)))
        .collect().map(_.toString).sorted.toSeq
      val want = Search.bm25Core(spark, Search.postingsOf(finalCorpus), qt)
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, "maintained BM25 diverges from the rebuild")
    }
    assertEqualsRebuild()

    // at-least-once replay of a committed generation: the stats lake is
    // the generation log, so the fold is skipped outright — a re-run
    // against already-folded postings would book a zero stats delta
    SearchIndex.refresh(spark, root, d2, "v3")
    assertEqualsRebuild()

    // maintenance folds both lakes (tombstones included)
    SearchIndex.maintain(spark, root, compactEvery = 1)
    assert(MergeLake.deltaCount(spark, s"$root/postings") === 0)
    assert(MergeLake.deltaCount(spark, s"$root/stats") === 0)
    assertEqualsRebuild()
  }
}
