package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.search.Search
import graft.textanalysis.TextAnalysis

/** Streaming retrieval twin: BM25-score ARRIVING documents against the
  * standing query workload using FROZEN corpus statistics (per-term idf
  * and avgdl trained once on the lake's postings artifact) — the
  * serving shape of a production alerting/routing stage ("notify when
  * a document matching this query lands"), and the retrieval analogue
  * of [[DocumentStream.lmGate]]'s train-on-lake / serve-on-stream
  * split.
  *
  * Map-only and stateless: the query workload is bounded, so each
  * query's score folds into ONE codegen'd expression over the
  * document's word array (`size(filter(w, _ == term))` per term — no
  * explode, no join, no shuffle, no state store). Scores use the exact
  * fixed-point arithmetic of the batch core (per-term 1e-6 floor, then
  * an integer sum), so a streamed document scores BIT-IDENTICALLY to
  * the batch ranking under the same statistics — asserted in
  * RetrievalStreamSpec.
  */
object RetrievalStream {

  /** Frozen (qid, term, idf) rows + avgdl from a corpus' postings —
    * the "train" half, run once on the lake.
    */
  def frozenStats(postings: DataFrame,
      queryTerms: Seq[(Int, String)]): (Seq[(Int, String, Double)], Double) = {
    val statsRow = postings.select(col("doc_id"), col("dl")).distinct().agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")).head()
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getDouble(1)
    // Collect df ONLY for the bounded standing-query vocabulary — the
    // workload's terms, not the corpus'. Without the filter this would
    // pull the whole corpus vocabulary to the driver (at 100 TB, a
    // driver OOM); with it the collect is |distinct query terms| rows.
    val wanted = queryTerms.map(_._2).distinct
    val dfs = postings.filter(col("term").isin(wanted: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val qidf = queryTerms.flatMap { case (qid, term) =>
      dfs.get(term).map { df =>
        (qid, term,
          math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0))
      }
    }
    (qidf, avgdl)
  }

  /** The "serve" half: score a (streaming or batch) document frame
    * against the frozen stats. Emits one row per (doc, query) with at
    * least one matching term — exactly the batch scorer's membership.
    */
  def retrievalGate(docs: DataFrame, qidf: Seq[(Int, String, Double)],
      avgdl: Double): DataFrame = {
    val w = TextAnalysis.words(col("text"))
    val dl = size(w).cast("long")
    def termE6(term: String, idf: Double): Column = {
      val tf = size(filter(w, x => x === lit(term))).cast("long")
      floor(lit(idf) * ((tf * lit(Search.K1 + 1)) /
        (tf + lit(Search.K1) * (lit(1 - Search.B) +
          lit(Search.B) * (dl / lit(avgdl)))))
        * lit(1e6) + lit(0.5)).cast("long")
    }
    val perQuery = qidf.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (qid, terms) =>
        struct(lit(qid).as("qid"),
          terms.map { case (_, t, idf) => termE6(t, idf) }
            .reduce(_ + _).as("e6"))
    }
    docs.filter(size(w) > 0)
      .select(col("doc_id"), explode(array(perQuery: _*)).as("h"))
      // idf > 0 and tf ≥ 1 make every real hit's e6 positive, so
      // e6 > 0 ⇔ the doc contains at least one of the query's terms
      .filter(col("h.e6") > 0)
      .select(col("doc_id"), col("h.qid").as("qid"),
        (col("h.e6").cast("double") / lit(1e6)).as("score"))
  }
}
