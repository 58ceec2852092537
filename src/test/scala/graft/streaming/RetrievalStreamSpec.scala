package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.search.Search

/** The streaming retrieval gate scores a document BIT-IDENTICALLY to
  * the batch BM25 ranking under the same frozen statistics.
  */
class RetrievalStreamSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "apple cherry durian"),
    (3L, "banana banana fig"),
    (4L, "grape melon kiwi")).toDF("doc_id", "text")

  private val queryTerms = Seq(0 -> "apple", 0 -> "banana", 1 -> "cherry")

  test("streamed scores equal the batch ranking's scores") {
    val (qidf, avgdl) = RetrievalStream.frozenStats(
      Search.postingsOf(docs), queryTerms)
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val q = RetrievalStream
      .retrievalGate(src.toDF().toDF("doc_id", "text"), qidf, avgdl)
      .writeStream.format("memory").queryName("rgate")
      .outputMode("append").start()
    try {
      src.addData((1L, "apple banana apple cherry"),
        (2L, "apple cherry durian"),
        (3L, "banana banana fig"),
        (4L, "grape melon kiwi"))
      q.processAllAvailable()
      val streamed = spark.table("rgate")
        .select("qid", "doc_id", "score").as[(Int, Long, Double)]
        .collect().toSet
      val batch = Search.bm25Of(spark, docs, queryTerms)
        .select("qid", "doc_id", "score").as[(Int, Long, Double)]
        .collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // doc 4 matches no query term and never appears
      assert(!streamed.exists(_._2 === 4L))
    } finally q.stop()
  }

  test("terms absent from the training corpus score zero, not crash") {
    val (qidf, avgdl) = RetrievalStream.frozenStats(
      Search.postingsOf(docs), Seq(5 -> "zeppelin"))
    assert(qidf.isEmpty)
    // a query with no trained terms simply never fires
    val out = RetrievalStream.retrievalGate(
      docs, qidf ++ Seq((6, "apple", 1.5)), avgdl)
      .collect()
    assert(out.forall(_.getInt(1) === 6))
  }
}
