package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.blocker.{Blocker, EntityTokenizer}

/** One shared-token hit between a streamed query entity and an indexed
  * corpus entity (the stream-static join output row).
  */
case class TokenHit(qid: String, cid: String, field: String,
    token: String, weight: Double)

/** A ranked match candidate for a streamed query entity. */
case class MatchCandidate(qid: String, cid: String, score: Double, rn: Int)

/** Per-query-entity accumulated hits: key `cid`+NUL+`field`+NUL+`token` →
  * index-side weight. Bounded by the entity's token count × its
  * candidate fan-out, NOT by the corpus.
  */
case class MatchState(seen: Map[String, Double])

/** Incremental entity matching — the streaming twin of
  * [[graft.blocker.Blocker.matchTopK]]. A 100 TB entity lake is not
  * re-xref'd nightly: new statements arrive as a stream and are matched
  * against the STATIC term-frequency index (rebuilt on the lake's own
  * cadence), yielding live candidate suggestions per new entity.
  *
  * Spark-first shape, three stages:
  *  1. stateless tokenization — the batch tokenizer's own per-row
  *     emitter ([[EntityTokenizer.emitted]]), shared code so stream
  *     and batch can never drift; the batch (id, field, token)
  *     aggregation is deferred to stage 3's state;
  *  2. a stream-static equi-join on (token, field) against the TF
  *     index, filtered by the schema-compat table as a literal `InSet`
  *     ([[Blocker]]'s own compat test) — stateless, so
  *     the static side plans exactly like the batch join (the index
  *     never shuffles per micro-batch; stopword tokens cannot join
  *     because the TF index is already stopword-filtered);
  *  3. `flatMapGroupsWithState` keyed by query entity: state holds the
  *     deduped (candidate, field, token) → weight hits (the set
  *     semantics the batch gets from `entries`' groupBy), and every
  *     update re-emits the refreshed top-K with the batch scoring
  *     formula — Σ_field max(weight)·(1+ln n), relative floor, rank.
  *     Late statements for an entity therefore *revise* its candidate
  *     list; downstream treats emissions per qid as upserts. With a
  *     `stateTtl` (production, see [[candidates]]) state expires on a
  *     processing-time timeout, so the store is bounded by the active
  *     horizon, not the stream's history.
  */
object MatchStream {

  /** Stateless per-occurrence token emission over a statement stream
    * (entity_id/schema/prop/prop_type/value rows). Mixed-schema
    * entities keep per-statement schemas here (the batch merges them
    * via commonSchema — single-schema streams, the normal ingest case,
    * are identical).
    */
  def queryTokens(stmts: DataFrame, idCol: String = "entity_id"): DataFrame =
    EntityTokenizer.emitted(EntityTokenizer.preparedStatements(stmts, idCol))
      .drop("counted")

  private val Sep = "\u0000"

  /** The batch scoring formula over accumulated hits: per candidate and
    * field take the best index weight and the shared-token count, credit
    * maxw·(1+ln n), sum, round half-up to 4 (= Spark `round(x, 4)` in
    * [[Blocker]] scorePairs), then rank with the same top-K + relative
    * floor as [[Blocker.matchTopK]].
    */
  private[streaming] def rank(qid: String, seen: Map[String, Double],
      cfg: Blocker.Config): Seq[MatchCandidate] = {
    val scores = seen.toSeq
      .map { case (k, w) =>
        val parts = k.split(Sep, 3)
        (parts(0), parts(1), w)
      }
      .groupBy(_._1)
      .map { case (cid, hits) =>
        val s = hits.groupBy(_._2).map { case (_, fieldHits) =>
          fieldHits.map(_._3).max * (1.0 + math.log(fieldHits.size))
        }.sum
        cid -> BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      }.toSeq
    val topk = scores.sortBy { case (cid, s) => (-s, cid) }
      .take(cfg.maxCandidates)
    if (topk.isEmpty) Seq.empty
    else {
      val best = topk.head._2
      topk.zipWithIndex
        .filter { case ((_, s), _) => s >= best * cfg.minScoreRatio }
        .map { case ((cid, s), i) => MatchCandidate(qid, cid, s, i + 1) }
    }
  }

  /** Streamed statements × static TF index → live per-entity candidate
    * rankings. `tfIndex`/`compat` are batch frames (the lake's index);
    * `compat` is collected once into the join's literal compat test.
    *
    * `stateTtl` ages out idle query entities via a processing-time
    * timeout. Leave it `None` under the default zero-interval trigger:
    * a configured timeout makes Structured Streaming schedule
    * CONTINUOUS no-data micro-batches to check expirations (measured
    * here: thousands of empty batches burning 5 cores), so a TTL only
    * belongs with a real `Trigger.ProcessingTime(...)` cadence, where
    * the expiry checks piggyback on scheduled batches.
    */
  def candidates(stmts: DataFrame, tfIndex: DataFrame, compat: DataFrame,
      cfg: Blocker.Config = Blocker.Config(),
      stateTtl: Option[String] = None): Dataset[MatchCandidate] = {
    val spark = stmts.sparkSession
    import spark.implicits._
    val l = queryTokens(stmts).as("l")
    val r = tfIndex.as("r")
    val joined = l.join(r,
      col("l.token") === col("r.token") &&
        col("l.field") === col("r.field") && col("l.id") =!= col("r.id"))
      .filter(Blocker.compatible(compat,
        least(col("l.schema"), col("r.schema")),
        greatest(col("l.schema"), col("r.schema"))))
      .select(col("l.id").as("qid"), col("r.id").as("cid"),
        col("l.field").as("field"), col("l.token").as("token"),
        col("r.weight").as("weight"))
      .as[TokenHit]
    val timeoutConf = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    joined.groupByKey(_.qid)
      .flatMapGroupsWithState[MatchState, MatchCandidate](
        OutputMode.Append(), timeoutConf) {
        (qid: String, rows: Iterator[TokenHit],
            state: GroupState[MatchState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.map(_.seen)
              .getOrElse(Map.empty[String, Double])
            val seen = rows.foldLeft(prev) { (m, h) =>
              m.updated(h.cid + Sep + h.field + Sep + h.token, h.weight)
            }
            state.update(MatchState(seen))
            stateTtl.foreach(state.setTimeoutDuration)
            rank(qid, seen, cfg).iterator
          }
      }
  }
}
