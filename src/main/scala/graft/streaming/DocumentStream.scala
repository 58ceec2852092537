package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.dedup.{Dedup, DedupQueries}
import graft.textanalysis.TextAnalysis

/** One banded signature row of a streamed document. */
case class BandedSig(doc_id: Long, band: Int, key: String, sig: Seq[Long])

/** A streaming near-duplicate candidate: `est_jaccard` is the minhash
  * component-agreement estimate between the two signatures.
  */
case class NearDupCandidate(a: Long, b: Long, band: Int,
    est_jaccard: Double)

/** Continuous training-data ingest: the document-side streaming twins.
  * A 100 TB corpus is not rebuilt nightly — new documents arrive as a
  * stream, and the first two pipeline stages (quality gate, exact
  * dedupe) run incrementally so only survivors reach the lake.
  *
  * Both operators are Structured-Streaming-native: the quality gate is
  * stateless (map-only, the same expression as the batch
  * q_text_quality), and the dedupe is `dropDuplicatesWithinWatermark`
  * — state keyed by content hash and aged out with the watermark, so
  * the state store is bounded by the dedupe horizon rather than
  * growing with the corpus.
  */
object DocumentStream {

  /** Stateless quality gate on a document stream (needs a `text`
    * column): keep documents whose quality score clears the floor.
    * One projection, no state, no shuffle.
    */
  def qualityGate(docs: DataFrame, minScore: Double = 0.5): DataFrame =
    docs
      .withColumn("quality",
        TextAnalysis.qualityExpr(TextAnalysis.words(col("text"))))
      .filter(col("quality") >= minScore)

  /** Streaming exact dedupe by content fingerprint: one copy of each
    * hash within the watermark horizon passes (which copy is
    * unspecified inside a micro-batch; across batches the earlier
    * one wins), later copies drop even when their event times
    * differ. State is
    * (hash → expiry) aged by the watermark — at scale the horizon
    * (default 24h) bounds the store regardless of corpus size;
    * duplicates further apart than the horizon are the batch dedupe's
    * job on the lake. Needs a `ts` timestamp column.
    */
  def dedupeStream(docs: DataFrame, horizon: String = "24 hours")
      : DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stateless LM perplexity gate on a document stream: score each
    * arriving document against a STATIC, broadcast
    * [[graft.textanalysis.LangModel.LmModel]] (trained once on the
    * lake's reference slice, shipped to executors as a broadcast — the
    * CCNet serving shape, and the scorer the batch curate gate runs)
    * and keep documents whose mean token log-probability clears the
    * floor. Map-only like [[qualityGate]]: no state, no shuffle, and
    * the same fixed-point arithmetic as the batch scorer, so re-scoring
    * a gated stream in batch reproduces the decisions exactly (asserted
    * in DocumentStreamSpec).
    */
  def lmGate(docs: DataFrame, model: graft.textanalysis.LangModel.LmModel,
      minLogp: Double): DataFrame =
    docs
      .withColumn("avg_logp", graft.textanalysis.LangModel.avgLogpOf(model,
        TextAnalysis.words(col("text"))))
      .filter(col("avg_logp") >= minLogp)

  /** Stateless TRAINED-classifier gate on a document stream: score
    * each arriving document against the frozen quality-model
    * coefficients (trained once at ingest —
    * [[graft.textanalysis.Classifier.modelCk]] — and shipped as five
    * doubles in the plan) and keep documents whose probability clears
    * the floor. The serving half of the fastText-style gate: the
    * SAME centered features and scoring arithmetic as the batch
    * query, so a gated stream re-scored in batch reproduces the
    * decisions bit-for-bit (asserted in DocumentStreamSpec).
    * Map-only: no state, no shuffle, no UDF.
    */
  def classifierGate(docs: DataFrame,
      w: graft.textanalysis.Classifier.Weights,
      minProb: Double = 0.5): DataFrame =
    docs
      .withColumn("score6", graft.textanalysis.Classifier.score6Expr(
        TextAnalysis.words(col("text")), w))
      .filter(col("score6").isNotNull &&
        col("score6") >= (minProb * 1e6).toLong)

  /** Streaming near-duplicate screen — the online form of the batch
    * MinHash-LSH candidate generation ([[Dedup.lshCandidates]]): each
    * arriving document is shingled, minhash-signed and banded with the
    * SHARED batch expressions (band-identical by construction), then a
    * `flatMapGroupsWithState` keyed by (band, key) holds each bucket's
    * seen (doc, signature) list and emits a candidate against every
    * earlier same-bucket document, with the minhash component-agreement
    * estimate in place of the batch's exact shingle Jaccard (state
    * holds signatures — [[DedupQueries.MinhashK]] longs/doc — never
    * shingle sets, which is what keeps the store small; the exact
    * verify belongs to the lake's batch pass). A pair sharing several
    * bands is emitted once per band — downstream dedupes on (a, b),
    * exactly like the batch `.distinct()`.
    *
    * Per-bucket state is capped at [[Dedup.LshBucketCap]] signatures —
    * the batch screen's hot-bucket cap: a hot (band, key) bucket
    * (boilerplate-heavy ingest) would otherwise grow state and do
    * O(n²) emission work without bound. Once a bucket holds that many
    * signatures, further arrivals in it are DROPPED (an over-common key
    * is uninformative) — real near-dups of a dropped doc still surface
    * through its other [[DedupQueries.Bands]]−1 bands unless ALL of
    * them are hot.
    *
    * `stateTtl` follows the [[MatchStream.candidates]] rule: only set
    * it under a real ProcessingTime trigger.
    */
  def nearDupStream(docs: DataFrame, stateTtl: Option[String] = None)
      : Dataset[NearDupCandidate] = {
    import DedupQueries.{MinhashK, Bands, RowsPerBand}
    val spark = docs.sparkSession
    import spark.implicits._
    // the batch shingle/hash pipeline, shared code end-to-end
    val banded = DedupQueries.hashedShinglesOf(docs)
      .select(col("doc_id"),
        Dedup.minhashSigFromHashes(col("hs"), MinhashK).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(Dedup.bandKeys(col("sig"), Bands, RowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.key").as("key"), col("sig"))
      .as[BandedSig]
    val timeoutConf = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    banded.groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[Seq[(Long, Seq[Long])], NearDupCandidate](
        OutputMode.Append(), timeoutConf) {
        (bk: (Int, String), rows: Iterator[BandedSig],
            state: GroupState[Seq[(Long, Seq[Long])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(Seq.empty)
            val out = List.newBuilder[NearDupCandidate]
            for (r <- rows if seen.size < Dedup.LshBucketCap &&
                !seen.exists(_._1 == r.doc_id)) {
              for ((oid, osig) <- seen) {
                val agree = r.sig.zip(osig).count(p => p._1 == p._2)
                val est = BigDecimal(agree.toDouble / r.sig.length)
                  .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
                out += NearDupCandidate(math.min(r.doc_id, oid),
                  math.max(r.doc_id, oid), bk._1, est)
              }
              seen = seen :+ ((r.doc_id, r.sig))
            }
            state.update(seen)
            stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /** Streaming HLL register maintenance over a document stream (needs
    * `source`, `doc_id`, `text`): the same relational register algebra
    * as the batch sketch ([[graft.textanalysis.Sketches]]), run as a
    * streaming aggregation. A streaming `count(distinct term)` keeps
    * every distinct value in the state store — unbounded on a corpus
    * feed; the register table is ≤ 2^12 rows per source forever, and
    * any snapshot of it merges (register-wise max) and estimates with
    * the batch algebra (`Sketches.estimateOf`), so a continuously-run
    * dashboard reads cardinalities off the state snapshot without
    * touching the corpus.
    */
  def hllRegisters(docs: DataFrame): DataFrame = {
    import graft.textanalysis.Sketches
    Sketches.registersOf(Sketches.postingsOf(docs))
  }
}
