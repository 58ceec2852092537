package graft.blocker

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextExpressions.lower

/** The blocking stage of the engine: tokenize entities into an inverted
  * index, weight tokens by TF-IDF, eliminate high-cost tokens (dynamic
  * stopwords = the skew guard), and generate candidate duplicate pairs by
  * a token self-join with per-field log-credit scoring.
  *
  * Same semantics as the reference's DuckDB-SQL blocker
  * (`blocker/tokenizer.py:61-132`, `blocker/index.py:232-307,499-531,
  * 588-694`), re-expressed as declarative DataFrame plans so Catalyst
  * plans the joins:
  *  - the `compat` / `boosts` tables are tiny constant DataFrames,
  *    collected once into literal expressions (an `InSet` over the
  *    schema pair, a map lookup on the field) — no join and no
  *    broadcast hash relation, each of which would cost a memory page;
  *  - the token self-join shuffles both sides on (token, field) — a
  *    sort-merge join whose worst key skew is *provably bounded* by the
  *    stopword cost cap, which is what makes this safe at 100 TB;
  *  - the `l.id > r.id` predicate halves the self-join exactly like the
  *    reference (`blocker/index.py:604`);
  *  - top-K per subject uses row_number + first_value over one window so
  *    Catalyst folds the rank predicate into WindowGroupLimit.
  *
  * Every intermediate table is also expressible as a DuckDB CTE — see
  * [[BlockerQueries]] for the oracle SQL mirrors.
  */
object Blocker {

  /** Config mirroring the reference's knobs (`blocker/index.py:59-63`):
    * token truncation 40 chars, pair-cost cap (bucket 60 → 1770 in the
    * reference; configurable here because cost scales with corpus),
    * max candidates 75 / relative floor 0.1 for match top-K.
    */
  case class Config(
      minTokenLen: Int = 2,
      maxTokenLen: Int = 40,
      maxPairCost: Long = 50000L,
      maxPairs: Int = 5000,
      maxCandidates: Int = 10,
      minScoreRatio: Double = 0.1)

  object Config {
    /** The reference's published defaults: bucket 60 → same-schema pair
      * cost cap 60·59/2 = 1770 (`blocker/index.py:59,66-71`), 75
      * candidates per subject with the 0.1 relative floor
      * (`blocker/index.py:63,104-107`). The synthetic star pipeline uses
      * the looser caps above because its corpus-wide token frequencies
      * sit far above a 60-bucket regime.
      */
    val reference: Config = Config(maxPairCost = 1770L, maxCandidates = 75)
  }

  /** Statements (id, schema, field, value) → entries
    * (schema, id, field, token, cnt). Pure narrow transform: lower-case,
    * split on non-alphanumerics, drop short tokens, truncate to 40 chars,
    * count per entity/field — the Spark form of the entity tokenizer
    * (`blocker/tokenizer.py:61-132` + count fold `blocker/index.py:162-169`).
    * No shuffle until the final groupBy, which is the inverted index build.
    */
  def entries(statements: DataFrame, cfg: Config = Config()): DataFrame =
    statements
      .withColumn("token",
        explode(split(lower(col("value")), "[^a-z0-9]+")))
      .filter(length(col("token")) >= cfg.minTokenLen)
      .withColumn("token", substring(col("token"), 1, cfg.maxTokenLen))
      .groupBy(col("schema"), col("id"), col("field"), col("token"))
      .agg(count(lit(1)).as("cnt"))

  /** Per (token, schema) document frequency / term frequency
    * (`blocker/index.py:238-249`).
    */
  def tokenStats(entries: DataFrame): DataFrame =
    entries.groupBy(col("token"), col("schema"))
      .agg(count(lit(1)).as("df"), sum(col("cnt")).as("freq"),
        min(col("field")).as("field"))

  /** Dynamic stopwords: tokens whose compatible-pair cost exceeds the cap
    * (`blocker/index.py:232-307`). Cost of a token = number of candidate
    * pairs it would emit: n·(n−1)/2 within a schema, n_l·n_r across
    * compatible schemata. This is simultaneously the reference's semantics
    * and Spark's shuffle-skew guard: no join key downstream can fan out
    * more than `maxPairCost` rows.
    */
  /** Compatible-pair cost per token (the stopword cost model input).
    *
    * One pass instead of the former stats-with-stats self-join: a
    * token carries at most one (schema, df) row per schema, so the
    * ls ≤ rs pair terms are generated IN-ROW from a collected
    * per-token list (bounded by the schema count) and summed after
    * the literal compat filter — the self-join cloned the stats
    * aggregation subtree per side (AQE runs the twin exchanges
    * twice) and paid a second vocabulary shuffle. The explode keeps
    * the collect's token clustering, so the final sum needs no new
    * exchange. Term values are bit-identical: same-schema cost uses
    * shiftright(df·(df−1), 1) — df·(df−1) is always even, so this is
    * exactly the old integer `div 2`.
    */
  def tokenCosts(stats: DataFrame, compat: DataFrame): DataFrame = {
    val perTok = stats.groupBy(col("token"))
      .agg(collect_list(struct(col("schema"), col("df"))).as("ss"))
    val prs = flatten(transform(col("ss"), x =>
      filter(transform(col("ss"), y => struct(
        x.getField("schema").as("ls"), y.getField("schema").as("rs"),
        when(x.getField("schema") === y.getField("schema"),
          shiftright(x.getField("df") * (x.getField("df") - 1), 1))
          .otherwise(x.getField("df") * y.getField("df")).as("c"))),
        p => p.getField("ls") <= p.getField("rs"))))
    perTok.select(col("token"), prs.as("prs"))
      .select(col("token"), explode(col("prs")).as("p"))
      .filter(compatible(compat, col("p.ls"), col("p.rs")))
      .select(col("token"), col("p.c").as("c"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("cost"))
  }

  /** The `compat` table `(ls, rs)` as one predicate over a schema
    * pair: an `InSet` of its rows, collected once (a local
    * relation bounded by the ontology runs no job). The table is a
    * set: a pair it lists twice still passes once, so its rows must be
    * distinct, as [[graft.model.Ftm.compatPairs]] are. A null schema
    * matches nothing.
    */
  private[graft] def compatible(compat: DataFrame, ls: Column,
      rs: Column): Column = {
    val pairs: Set[Any] = compat.select(col("ls"), col("rs")).collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => InternalRow(UTF8String.fromString(r.getString(0)),
        UTF8String.fromString(r.getString(1))))
      .toSet
    Bridge.column(InSet(Bridge.expression(struct(ls, rs)), pairs))
  }

  /** The `boosts` table `(field, boost)` as a literal map lookup on the
    * `field` column, collected once; null (so boost 1) for a
    * field it does not list.
    */
  private[blocker] def boostOf(boosts: DataFrame): Column = {
    val m = boosts.select(col("field"), col("boost").cast(DoubleType))
      .collect().iterator.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    require(m.map(_._1).distinct.size == m.size,
      s"boosts lists a field twice: ${m.map(_._1)}")
    element_at(typedLit(m.toMap), col("field"))
  }

  def stopwords(stats: DataFrame, compat: DataFrame, cfg: Config): DataFrame =
    tokenCosts(stats, compat).filter(col("cost") > cfg.maxPairCost)

  /** IDF per token: 1 + ln(N / count(DISTINCT id)), N = distinct entities
    * (`blocker/index.py:506-513`). Distinct ids per token — an id whose
    * token appears in multiple fields counts once, exactly like the
    * reference. N is a scalar — computed once and cross-joined (a 1-row
    * broadcast), not recomputed per row.
    */
  def idf(entries: DataFrame): DataFrame = {
    val n = entries.agg(countDistinct(col("id")).as("n_entities"))
    entries.groupBy(col("token")).agg(countDistinct(col("id")).as("tdf"))
      .crossJoin(broadcast(n))
      .select(col("token"), idfExpr.as("idf"))
  }

  /** The IDF expression over (tdf, n_entities) longs — ONE expression
    * tree shared with the incrementally-maintained index
    * ([[BlockerIndex.termFrequencies]]) so both paths produce bit-equal
    * doubles.
    */
  private[blocker] def idfExpr: Column =
    lit(1.0) + log(col("n_entities") / col("tdf"))

  /** Per-entity name-token mass, for alias damping
    * (`blocker/index.py:514-519`): at least 1, summed over the
    * entity's own entries rows by a window on `id`, so each row
    * carries it without a join back to a per-entity table; 1 for an
    * entity without name tokens.
    */
  private def nameMass: Column =
    greatest(lit(1L), sum(when(col("field") === "name", col("cnt")))
      .over(Window.partitionBy(col("id"))))

  /** Weighted term frequencies: entries minus stopwords, weighted
    * boost · idf, damped by sqrt(n_names) only for the alias-multiplying
    * fields (reference: NAME_PART_FIELD/SYMBOL_FIELD,
    * `blocker/index.py:504-531`). The name mass is taken over every
    * entries row, stopwords included, before the stopword anti-join;
    * then one join to the idf; `boosts` is a literal lookup.
    */
  def termFrequencies(entries0: DataFrame, compat: DataFrame,
      boosts: DataFrame, cfg: Config = Config(),
      dampFields: Seq[String] = Seq("name")): DataFrame = {
    val e = entries0
    val stats = tokenStats(e)
    val sw = stopwords(stats, compat, cfg).select(col("token"))
    weightSelect(
      e.withColumn("n_names", nameMass)
        .join(sw, Seq("token"), "left_anti")
        .join(idf(e), Seq("token")),
      boosts, dampFields)
  }

  /** The weighting tail over a joined frame carrying `field`, `idf`
    * and `n_names` (nullable), with the boost looked up from `boosts`
    * ([[boostOf]]) — ONE expression tree shared with
    * [[BlockerIndex.termFrequencies]] so the batch build and the
    * incrementally-maintained index produce bit-equal weights.
    */
  private[blocker] def weightSelect(joined: DataFrame, boosts: DataFrame,
      dampFields: Seq[String]): DataFrame = {
    val base = col("idf") * coalesce(boostOf(boosts), lit(1.0))
    joined.select(col("schema"), col("id"), col("field"), col("token"),
      when(col("field").isin(dampFields: _*),
        base / sqrt(coalesce(col("n_names"), lit(1L))))
        .otherwise(base).as("weight"))
  }

  /** Score shared-token groups: per (left, right, field) take the best
    * combined weight and count shared tokens, then credit each field
    * maxw · (1 + ln(n)) and sum (`blocker/index.py:595-607`). Partial
    * aggregation is automatic (two-level hash agg).
    */
  private def scorePairs(joined: DataFrame, lid: Column, rid: Column,
      maxwOf: Column): DataFrame =
    joined
      .groupBy(lid.as("lid"), rid.as("rid"), col("l.field").as("field"))
      .agg(max(maxwOf).as("maxw"), count(lit(1)).as("n"))
      .groupBy(col("lid"), col("rid"))
      .agg(round(sum(col("maxw") * (lit(1.0) + log(col("n")))), 4).as("score"))

  /** All scored candidate pairs: token self-join on (token, field) with
    * `l.id > r.id`, restricted to compatible schemata, scored
    * (`blocker/index.py:588-607`) — no top-N cut; the resolver consumes
    * the full score table.
    */
  def pairScores(tf: DataFrame, compat: DataFrame): DataFrame = {
    val l = tf.as("l")
    // the sort-merge join of the scaladoc at every size: AQE would
    // otherwise broadcast a small TF side, one more hash relation
    val r = tf.as("r").hint("merge")
    val joined = l.join(r,
      col("l.token") === col("r.token") && col("l.field") === col("r.field") &&
        col("l.id") > col("r.id"))
      .filter(compatiblePair(compat))
    scorePairs(joined, col("l.id"), col("r.id"),
      col("l.weight") + col("r.weight"))
  }

  /** The `compat` test of a joined `l`/`r` token pair, on the
    * schemata ordered as the table is (`ls <= rs`).
    */
  private def compatiblePair(compat: DataFrame): Column =
    compatible(compat, least(col("l.schema"), col("r.schema")),
      greatest(col("l.schema"), col("r.schema")))

  /** Candidate pairs capped to the global top-N (`blocker/index.py:608-610`).
    * The returned plan ends in TakeOrderedAndProject — no global sort
    * materialization.
    */
  def pairs(tf: DataFrame, compat: DataFrame, cfg: Config = Config()): DataFrame =
    pairScores(tf, compat)
      .orderBy(col("score").desc, col("lid").asc, col("rid").asc)
      .limit(cfg.maxPairs)

  /** Incremental pair generation: scored candidate pairs restricted to
    * pairs touching a delta entity set — the blocking pass a production
    * operator runs after an incremental MERGE lands (reference semantics:
    * re-xref only what changed, `store/sql.py:90-177` upsert feeding
    * `xref.py:29-160`). Produces EXACTLY [[pairScores]] filtered to
    * `lid ∈ Δ OR rid ∈ Δ` — but computes it in O(|Δ| × postings), not
    * O(corpus²): the left side is the TF index semi-filtered to delta
    * ids (delta-sized; the predicate reaches the artifact scan), the
    * right side is the full index, and the join shuffles on
    * (token, field) with skew still bounded by the stopword cost cap.
    *
    * The orientation rule `l.id > r.id OR NOT r.is_delta` emits each
    * delta-touched pair exactly once: both-delta pairs only in the
    * `l.id > r.id` order, mixed pairs only from their (single) delta
    * side. Output is canonicalized to `lid > rid` so scores and ordering
    * match the full-corpus pair table row for row.
    */
  def deltaPairScores(tf: DataFrame, isDelta: Column,
      compat: DataFrame): DataFrame = {
    val marked = tf.withColumn("is_delta", isDelta)
    val l = marked.filter(col("is_delta")).as("l")
    val r = marked.as("r")
    val joined = l.join(r,
      col("l.token") === col("r.token") && col("l.field") === col("r.field") &&
        (col("l.id") > col("r.id") || !col("r.is_delta")) &&
        col("l.id") =!= col("r.id"))
      .filter(compatiblePair(compat))
    scorePairs(joined,
      greatest(col("l.id"), col("r.id")), least(col("l.id"), col("r.id")),
      col("l.weight") + col("r.weight"))
  }

  /** Match join: query-side term frequencies against the index, scored
    * with max(index-side weight) — the reference's `_find_matches` uses
    * `max(tf.weight)`, not the pair sum (`blocker/index.py:669-678`) —
    * then per-subject top-K with a relative score floor
    * (`blocker/index.py:653-694`). The query side is expected to be small
    * → broadcast it so the index side never shuffles.
    */
  /** `broadcastQuery` belongs to SMALL interactive query batches (the
    * yente match-API shape); bulk callers whose query side is a whole
    * corpus (DatasetEnricher) must pass false or the collect to the
    * driver OOMs — the join then shuffles both sides on (token, field).
    */
  def matchTopK(tfQuery: DataFrame, tfIndex: DataFrame, compat: DataFrame,
      cfg: Config = Config(), broadcastQuery: Boolean = true): DataFrame = {
    val l = (if (broadcastQuery) broadcast(tfQuery) else tfQuery).as("l")
    val r = tfIndex.as("r")
    val joined = l.join(r,
      col("l.token") === col("r.token") && col("l.field") === col("r.field") &&
        col("l.id") =!= col("r.id"))
      .filter(compatiblePair(compat))
    val scored = scorePairs(joined, col("l.id"), col("r.id"), col("r.weight"))
      .withColumnRenamed("lid", "qid").withColumnRenamed("rid", "cid")
    // Rank alone first: a pure row_number filter lets Catalyst insert
    // WindowGroupLimit below the sort, so only the per-subject top-K
    // ever leaves the shuffle. The relative floor needs the partition
    // best — computed on the ≤K pruned rows (the max survives any rank
    // cut), never on the full candidate set.
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    val topk = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cfg.maxCandidates)
    val wBest = Window.partitionBy(col("qid"))
    topk
      .withColumn("best", max(col("score")).over(wBest))
      .filter(col("score") >= col("best") * cfg.minScoreRatio)
      .select(col("qid"), col("cid"), col("score"), col("rn"))
  }
}
