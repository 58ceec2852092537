package graft.textanalysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational form of [[LangModel.lmScoreOf]], kept as a test
  * reference: token rows of every document, the capped count tables of
  * the train slice ([[LangModel.lmTables]]) and the `q_text_lm` join
  * tail ([[LangModel.lmScoreFrom]]).
  */
object LmReference {
  /** `(doc_id, n_tokens, avg_logp)` of every document with words; the
    * count tables it persists go to `held`.
    */
  def scored(docs: DataFrame, held: graft.Caches.Held,
      topV: Long = LangModel.LmTopV,
      bigramsPerContext: Int = LangModel.LmBigramsPerContext): DataFrame = {
    val rows = LangModel.tokenRows(TextAnalysis.withWords(docs))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long")
    val (uni, bi, tot) = LangModel.lmTables(
      rows.filter(bucket < LangModel.TrainBuckets), topV,
      bigramsPerContext, held)
    LangModel.lmScoreFrom(rows, uni, bi, tot)
  }

  def scores(docs: DataFrame, topV: Long = LangModel.LmTopV,
      bigramsPerContext: Int = LangModel.LmBigramsPerContext)
      : Set[(Long, Long, Option[Double])] = {
    val held = new graft.Caches.Held
    try rowsOf(scored(docs, held, topV, bigramsPerContext))
    finally held.release()
  }

  /** `(doc_id, n_tokens, avg_logp)` rows of a scored frame. */
  def rowsOf(scored: DataFrame): Set[(Long, Long, Option[Double])] =
    scored.select(col("doc_id"), col("n_tokens"), col("avg_logp"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
}
