package graft.search

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** BM25 semantics on a hand fixture — the oracle gate (q_search_bm25)
  * checks engine parity; this pins the ranking arithmetic itself.
  */
class SearchSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "apple cherry"),
    (3L, "banana banana banana"),
    (4L, "durian fig grape")).toDF("doc_id", "text")

  /** q_search_bm25's scoring core over this fixture's postings. */
  private def bm25(docs: org.apache.spark.sql.DataFrame,
      terms: Seq[(Int, String)]) =
    Search.bm25Core(spark, Search.postingsOf(docs), terms)

  test("tf saturation beats length normalization for a repeated term") {
    // query "apple": doc 1 (tf=2, dl=3) vs doc 2 (tf=1, dl=2).
    // avgdl = 11/4; k1=1.2, b=0.75:
    //   doc1 weight = 2*2.2 / (2 + 1.2*(0.25 + 0.75*3/2.75)) ≈ 1.341
    //   doc2 weight = 1*2.2 / (1 + 1.2*(0.25 + 0.75*2/2.75)) ≈ 1.126
    val out = bm25(docs, Seq(0 -> "apple")).collect()
      .sortBy(_.getInt(3))
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L))
    // docs without the term never appear (no zero-score padding)
    assert(!out.map(_.getLong(1)).contains(3L))
    val scores = out.map(_.getDouble(2))
    assert(scores(0) > scores(1) && scores.forall(_ > 0))
  }

  test("multi-term queries sum per-term contributions") {
    // "apple banana": doc 1 matches both terms — must outrank the
    // single-term docs 2 and 3
    val out = bm25(docs, Seq(0 -> "apple", 0 -> "banana"))
      .collect().sortBy(_.getInt(3))
    assert(out.head.getLong(1) === 1L)
    assert(out.map(_.getLong(1)).toSet === Set(1L, 2L, 3L))
  }

  test("rarer terms carry higher idf") {
    // "cherry" appears in 1 doc, "apple" in 2 → for equal tf and dl the
    // cherry hit must score higher than an apple hit in the same doc
    val out = bm25(docs,
      Seq(0 -> "cherry", 1 -> "apple")).collect()
    val cherry = out.filter(r => r.getInt(0) == 0 && r.getLong(1) == 2L)
      .head.getDouble(2)
    val apple = out.filter(r => r.getInt(0) == 1 && r.getLong(1) == 2L)
      .head.getDouble(2)
    assert(cherry > apple)
  }

  test("fixed-point scoring is reproducible across runs") {
    val a = bm25(docs, Search.QueryTerms).collect().toSeq
    val b = bm25(docs, Search.QueryTerms).collect().toSeq
    assert(a === b)
  }

  test("RRF fusion: both-arm docs outrank single-arm docs at equal rank") {
    // query 0: doc 10 is rank 1 in BOTH arms; doc 11 rank 2 sparse
    // only; doc 12 rank 2 dense only; doc 13 rank 3 sparse only
    val sparse = Seq((0, 10L, 1), (0, 11L, 2), (0, 13L, 3))
      .toDF("qid", "doc_id", "srn")
    val dense = Seq((0, 10L, 1), (0, 12L, 2))
      .toDF("qid", "doc_id", "drn")
    val out = Search.rrfFuse(sparse, dense).collect().sortBy(_.getInt(3))
    assert(out.map(_.getLong(1)).toSeq === Seq(10L, 11L, 12L, 13L))
    // doc 10: 2*floor(1e6/61); docs 11/12: floor(1e6/62) each — the
    // equal-rank single-arm docs tie on score and break by doc_id
    assert(out(0).getLong(2) === 2L * (1000000L / 61))
    assert(out(1).getLong(2) === out(2).getLong(2))
  }

  test("RRF fusion is per-query and caps at HybridK") {
    val sparse = (1 to Search.HybridArmK).map(r => (7, 100L + r, r))
      .toDF("qid", "doc_id", "srn")
    val dense = (1 to Search.HybridArmK).map(r => (7, 200L + r, r))
      .toDF("qid", "doc_id", "drn")
    val out = Search.rrfFuse(sparse, dense).collect()
    assert(out.length === Search.HybridK)
    assert(out.forall(_.getInt(0) === 7))
  }
}
