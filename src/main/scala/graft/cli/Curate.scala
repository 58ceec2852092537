package graft.cli

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Record
import graft.dedup.DedupQueries
import graft.textanalysis.{Curation, LangModel, TextAnalysis}

/** The end-to-end training-corpus curation pipeline behind `nk curate`,
  * composing the library's LLM-data operators the way `nk dedupe`
  * composes the entity operators:
  *
  *   1. exact dedup        (md5(text) groups, min-doc_id survivor)
  *   2. quality gate       (composite heuristic, `--min-quality`)
  *   3. LM perplexity gate (stupid-backoff bigram LM, `--min-logp`)
  *   4. near-dup removal   (MinHash-LSH pairs → components → survivor)
  *   5. shard assignment   (content-keyed hash shard, no global sort)
  *   6. sequence packing   (per-shard 256-token context windows — the
  *                          training-ready layout, Curation.packFrom)
  *
  * Order matters and mirrors production pipelines: exact dedup first
  * (cheapest, biggest shrink on crawled data), heuristic gates before
  * the quadratic-ish near-dup stage so LSH sees only plausible
  * documents, sharding last so shard sizes reflect the final corpus.
  *
  * Plan shape: one frame flows through every stage. The word array
  * `w` ([[TextAnalysis.words]]) is computed once, next to the quality
  * score, and carried through LM training, LM scoring and packing;
  * it is dropped before output. Every gate is a filter on that frame —
  * no stage joins back to an earlier one on `doc_id`. Three stages
  * are materialized (the gated frame, the LM-scored frame and the
  * packed `curated` output), each with ONE count aggregate for the
  * report; every intermediate is released once `curated` is built, so
  * a run leaves exactly one persisted frame: the one it returns.
  *
  * Outputs under `outDir`: `corpus/` — the kept documents with
  * `quality`, `avg_logp`, `shard` columns, partitioned by shard — and
  * `report.json`, one JSON object of per-stage document counts.
  * Every stage is deterministic (content-keyed decisions, tiebroken
  * survivors), so re-running the pipeline reproduces the corpus and
  * the report byte-for-byte.
  *
  * {{{
  *   spark-submit --class graft.cli.Nk graft.jar curate \
  *     documents.parquet /out/curated --min-quality 0.3 --min-logp -12
  * }}}
  */
object CurateMain {

  final case class Report(input: Long, afterExact: Long,
      unscoreable: Long, afterQuality: Long,
      afterLm: Long, afterNearDup: Long, shards: Int,
      packWindows: Long) {
    /** The per-stage counts in pipeline order. */
    def fields: Record.Rec = ListMap("input" -> input,
      "after_exact_dedup" -> afterExact,
      "unscoreable_no_tokens" -> unscoreable,
      "after_quality" -> afterQuality, "after_lm" -> afterLm,
      "after_near_dup" -> afterNearDup, "shards" -> shards,
      "pack_windows" -> packWindows)

    def json: String = Record.json(fields)
  }

  /** The pipeline on a documents frame; returns (curated, report). */
  def run(spark: SparkSession, docs0: DataFrame, minQuality: Double,
      minLogp: Double): (DataFrame, Report) = {
    val held = new graft.Caches.Held
    try {
      // 1+2. exact dedup, then the heuristic quality gate, in one
      //    materialized frame. Exact survivor: min doc_id per content
      //    hash (one window, no fetch-back join). A NULL text has no
      //    hash and never survives (the content-hash equi-join this
      //    replaces matched nothing on it). Token-less survivors score
      //    NULL quality and are dropped regardless of --min-quality —
      //    reported separately (`unscoreable_no_tokens`) so "failed the
      //    gate" and "had nothing to score" stay distinguishable.
      val exact = col("text").isNotNull && col("doc_id") ===
        min(col("doc_id")).over(Window.partitionBy(md5(col("text"))))
      val gated = held.cut(docs0
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .withColumn("exact", exact)
        .withColumn("w", when(col("exact"), TextAnalysis.words(col("text"))))
        .withColumn("quality", TextAnalysis.qualityExpr(col("w"))))
      val counts = gated.agg(count(lit(1)), count_if(col("exact")),
        count_if(col("exact") && col("quality").isNull),
        count_if(col("quality") >= minQuality)).head()
      val Seq(input, nExact, nUnscoreable, nQual) =
        (0 to 3).map(counts.getLong)
      val qual = gated.filter(col("quality") >= minQuality)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("quality"), col("w"))

      // 3. LM gate — the bigram LM trains on the gated corpus's own
      //    held-out hash split (CCNet trains on a reference corpus; pass
      //    one via a second input path if you have one) and scores the
      //    carried words map-side. Every gated doc has words (same
      //    tokenizer as the quality gate), so this stage drops on
      //    --min-logp alone.
      val model = LangModel.heldOutModel(qual)
      val scored = held.cut(qual.withColumn("avg_logp",
        LangModel.avgLogpOf(model, col("w"))))
      val lmKept = scored.filter(col("avg_logp") >= minLogp)
      val nLm = lmKept.count()

      // 4. near-dup removal — LSH pairs → connected components →
      //    longest-text/min-id survivor election. The cluster table only
      //    contains docs that appear in a near-dup pair, so unpaired docs
      //    pass through the anti-join untouched.
      val drop = DedupQueries.clustersOf(
          lmKept.select(col("doc_id"), col("text")))
        .filter(!col("keep"))
        .select(col("doc_id").cast(LongType).as("doc_id"))
      val nearKept = lmKept.join(drop, Seq("doc_id"), "left_anti")

      // 5+6. shard assignment + sequence packing — packFrom keys its
      //    shards on the SAME epoch-0 content hash, so its shard column
      //    IS stage 5's assignment, and the pack columns lay the kept
      //    corpus out as per-shard 256-token context windows. The
      //    carried words give the token count; they are dropped here.
      val curated = Curation.packFrom(nearKept
          .withColumn("n_tokens", size(col("w")).cast(LongType)))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("quality"), col("avg_logp"), col("shard"), col("n_tokens"),
          col("start_tok"), col("first_window"), col("window_offset"),
          col("n_windows"))
        .localCheckpoint(true)
      // per shard: its documents and the end of its last window
      val shardEnd = Curation.div(col("start_tok") + col("n_tokens") +
        (Curation.PackContext - 1), lit(Curation.PackContext))
      val perShard = curated.groupBy(col("shard"))
        .agg(count(lit(1)), max(shardEnd)).collect()
      val nNear = perShard.map(_.getLong(1)).sum
      val nWindows = perShard.map(_.getLong(2)).sum
      (curated, Report(input, nExact, nUnscoreable, nQual, nLm, nNear,
        Curation.ShuffleShards, nWindows))
    } finally held.release()
  }
}
