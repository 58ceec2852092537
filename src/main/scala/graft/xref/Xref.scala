package graft.xref

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocker.{Blocker, EntityTokenizer}
import graft.matching.{Algorithms, EntityMatch}
import graft.model.Ftm
import graft.store.EntityStore

/** The end-to-end xref pipeline (`xref.py:29-160`) in batch form:
  * tokenize → TF-IDF → candidate pairs (limit·limit_factor) → anti-join
  * already-decided pairs → score with a matching algorithm → discount
  * same-dataset pairs ×0.7 → threshold → auto-merge edges above the auto
  * threshold, top-`limit` suggestions otherwise.
  *
  * The reference's per-pair Python loop with patience/budget counters
  * becomes one declarative plan: the pair budget is the blocker's top-N
  * cut, the suggestion limit is a final ordered limit, and patience (a
  * sequential-scan heuristic against wasted scoring) has no analogue
  * because scoring is distributed, not sequential.
  */
object Xref {

  final case class Config(
      limit: Int = 5000,
      limitFactor: Int = 10,
      discountInternal: Double = 0.7,
      minThreshold: Double = 0.01,
      autoThreshold: Option[Double] = None,
      algorithm: String = Algorithms.default.name,
      external: Boolean = true,
      focusDatasets: Set[String] = Set.empty,
      range: Option[String] = None,
      blocker: Blocker.Config = Blocker.Config.reference)

  def compatDf(s: SparkSession): DataFrame = {
    import s.implicits._
    Ftm.compatPairs.toDF("ls", "rs")
  }

  def boostsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    EntityTokenizer.Boosts.toDF("field", "boost")
  }

  /** Scored candidate pairs for a statement table (ids are canonical
    * when `stmts` went through [[graft.resolver.Resolver.applyCanonical]]
    * first, mirroring the reference's canonicalize-on-write), with each
    * layer — the tokenized entries, the TF table and the match views
    * (over the assembled entities) — materialized once through `built`
    * with lineage cut.
    */
  private def scoredWith(s: SparkSession, stmts0: DataFrame,
      decided: DataFrame, cfg: Config,
      built: graft.Caches.Held): DataFrame = {
    // external=true by default, like the reference's xref view
    // (`xref.py:38,61`)
    val stmts = EntityStore.view(stmts0, withExternal = cfg.external)
    val compat = compatDf(s)
    val tf = built.cut(Blocker.termFrequencies(
      built.cut(EntityTokenizer.entries(stmts)), compat, boostsDf(s),
      cfg.blocker, dampFields = EntityTokenizer.DampFields))
    val pairs = Blocker.pairs(tf, compat,
      cfg.blocker.copy(maxPairs = cfg.limit * cfg.limitFactor))
    scoreCandidates(stmts, undecidedOf(pairs, decided), cfg, built.cut)
  }

  /** Incremental xref candidates: pairs touching the delta entity set
    * only, generated in O(|Δ| × postings) by
    * [[graft.blocker.Blocker.deltaPairScores]] and scored through the
    * SAME tail as [[run]] — the post-MERGE re-xref shape
    * (`xref.py:29-160` run on an increment). `isDelta` is a column
    * predicate over the TF rows (id/schema/field/token); pass a
    * prebuilt `tf` to reuse the ingest-maintained index artifact
    * instead of re-deriving it (Blocker TF is lake-persisted in
    * production — the soak's index_refresh stage).
    */
  def scoredDeltaPairs(s: SparkSession, stmts0: DataFrame,
      decided: DataFrame, isDelta: org.apache.spark.sql.Column,
      cfg: Config, tfPrebuilt: Option[DataFrame] = None): DataFrame = {
    val stmts = EntityStore.view(stmts0, withExternal = cfg.external)
    val compat = compatDf(s)
    val tf = tfPrebuilt.getOrElse {
      Blocker.termFrequencies(EntityTokenizer.entries(stmts), compat,
        boostsDf(s), cfg.blocker, dampFields = EntityTokenizer.DampFields)
    }
    val cand = Blocker.deltaPairScores(tf, isDelta, compat)
    // COLLECT the undecided candidate table (Δ-sized by contract,
    // bounded by the blocker pair budget — the union-find-fast-path
    // idiom) into ONE literal relation: it feeds the endpoint slice
    // AND the scoring join, and the slice is consumed by every
    // analysis view — referencing the O(|Δ|·postings) candidate
    // SUBTREE from each consumer both re-evaluated the join per
    // consumer and sent Catalyst's DeduplicateRelations quadratic
    // (measured 7 s → 86 s at 10×). A pin fixed the re-evaluation but
    // leaked one cached frame per batch in the continuous-increment
    // regime; the literal relation needs no cache at all, and the
    // endpoint id set falls out of the same collected rows with no
    // second job.
    val candRows = undecidedOf(cand, decided)
      .select(col("lid"), col("rid"), col("score")).collect()
    val undecided = s.createDataFrame(
      java.util.Arrays.asList(candRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("rid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))))
    // restrict the scoring corpus to the pair endpoints: the analysis
    // views (assemble, per-entity aggregates, dataset meta) are
    // corpus-sized aggregations, but a delta batch only needs the
    // Δ ∪ partners slice — per-entity derivations are identical on the
    // slice, so results match the full-corpus path row for row while
    // the increment's scoring stays O(|Δ|) instead of O(corpus).
    val ids = candRows.iterator
      .flatMap(r => Iterator(r.getString(0), r.getString(1)))
      .toIndexedSeq.distinct
    import s.implicits._
    // close the slice over addressEntity dereferences: the view
    // builder resolves an entity's address THROUGH the referenced
    // Address entity's statements (EntityMatch.views refFull join), so
    // an endpoint slice without them scores the address features
    // against missing data (measured on donations: a cross-batch pair
    // scored 0.221 on the unclosed slice vs 0.472 on the full corpus —
    // a silently dropped merge edge). One Δ-sized lookup, collected
    // under the same bounded-endpoint contract.
    val refIds = stmts.filter(col("prop") === "addressEntity")
      .join(broadcast(ids.toDF("cid")),
        stmts("canonical_id") === col("cid"), "left_semi")
      .select(col("value")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    val slice = stmts.join(broadcast((ids ++ refIds).distinct.toDF("cid")),
      stmts("canonical_id") === col("cid"), "left_semi")
    scoreCandidates(slice, undecided, cfg, identity)
  }

  /** Skip already-decided pairs (check_candidate,
    * `resolver.py:284-288`). No broadcast hint: the judgement set
    * grows with every xref round and is unbounded — AQE broadcasts it
    * while small, and the anti join degrades gracefully to a shuffle
    * once it is not.
    */
  private def undecidedOf(pairs: DataFrame, decided: DataFrame): DataFrame = {
    val dec = decided.select(
      least(col("src"), col("dst")).as("da"),
      greatest(col("src"), col("dst")).as("db")).distinct()
    pairs.join(dec,
      least(col("lid"), col("rid")) === col("da") &&
        greatest(col("lid"), col("rid")) === col("db"), "left_anti")
  }

  /** The scoring tail shared by the full and delta candidate paths:
    * assemble views, score with the configured algorithm, gate on
    * focus/range, discount same-dataset pairs, threshold. `build`
    * receives the match views.
    */
  private def scoreCandidates(stmts: DataFrame, undecided: DataFrame,
      cfg: Config, build: DataFrame => DataFrame): DataFrame = {
    val views = build(EntityMatch.views(EntityStore.assemble(stmts), stmts))
    val algoCol = cfg.algorithm.replace("-", "_")
    // the gates read each side's schema and datasets from its view:
    // the assembled entity's merged FtM schema (deterministic under
    // mixed-schema clusters, unlike first()) and its dataset set (the
    // gates only test overlap, so its sort order is irrelevant)
    val scored0 = EntityMatch.scorePairs(undecided, views, Seq(cfg.algorithm))
    // focus-dataset gate: at least one side in the focus set
    // (`xref.py:105-109`)
    val focused =
      if (cfg.focusDatasets.isEmpty) scored0
      else {
        val f = typedLit(cfg.focusDatasets.toSeq)
        scored0.filter(arrays_overlap(col("ldatasets"), f) ||
          arrays_overlap(col("rdatasets"), f))
      }
    // schema-range gate: one side must descend from the range schema
    // (`xref.py:111-116`)
    val ranged = cfg.range match {
      case None => focused
      case Some(r) =>
        val inRange = Ftm.schemata.keys
          .filter(sc => Ftm.ancestors(sc).contains(r)).toSeq
        focused.filter(col("lschema").isin(inRange: _*) ||
          col("rschema").isin(inRange: _*))
    }
    ranged
      .select(col("lid"), col("rid"),
        round(when(arrays_overlap(col("ldatasets"), col("rdatasets")),
          col(algoCol) * cfg.discountInternal).otherwise(col(algoCol)), 6)
          .as("score"))
      .filter(col("score") >= cfg.minThreshold)
  }

  /** The standard xref run (`xref.py:138-153`): ONE scored pass,
    * materialized, then partitioned into (auto-merge edges,
    * suggestions). The edges are the pairs scoring above the auto
    * threshold as (src, dst, score) — none without a threshold
    * (`xref.py:138-147`). The suggestions are the top-`limit`
    * (lid, rid, score) pairs at or below it, by score descending then
    * ids (`xref.py:150-153` + `resolver.suggest`).
    *
    * Build once, then release: the entries, the TF table and the
    * match views are each materialized once with lineage cut
    * (`localCheckpoint`, memory spilling to disk), so
    * every consumer reads them as a leaf instead of planning and
    * running its own copy of the subtree (AQE never reuses cloned
    * exchanges). They are released as soon as `scored` is
    * materialized; the only thing that outlives the call is the
    * DISK_ONLY checkpoint of `scored` both returned frames read. A
    * checkpoint is not registered in the `CacheManager`, so the call
    * leaves no cache entry behind, and its blocks go with the frames.
    */
  def run(s: SparkSession, stmts: DataFrame, decided: DataFrame,
      cfg: Config = Config()): (DataFrame, DataFrame) = {
    // DISK_ONLY: the scored table is bounded by limit·limitFactor (50k
    // at reference defaults) but operators raise the cap — local disk
    // keeps a raised cap from pinning executor memory; the extra pass
    // is one scan of a slim (lid, rid, score) table. Materialized once,
    // before both consumers fork.
    val scored = graft.Caches.holding(built =>
      graft.Caches.checkpoint(scoredWith(s, stmts, decided, cfg, built)))
    val gate = cfg.autoThreshold
      .map(t => col("score") > t).getOrElse(lit(false))
    val merges = scored.filter(gate)
      .select(col("lid").as("src"), col("rid").as("dst"), col("score"))
    val below = cfg.autoThreshold match {
      case Some(t) => scored.filter(col("score") <= t)
      case None => scored
    }
    val suggest = below
      .orderBy(col("score").desc, col("lid").asc, col("rid").asc)
      .limit(cfg.limit)
    (merges, suggest)
  }
}
