package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.blocker.Blocker
import graft.functions.TextExpressions.lower
import graft.matching.Algorithms

/** The wikidata reconciliation loop in batch form
  * (`wikidata/reconcile.py:1-342`): for every Person entity, either it
  * is already linked to a QID (→ enrich the item via [[Propose]]), or
  * its search candidates are ranked and the best one auto-merges above
  * a threshold, or the person becomes a CREATE proposal.
  *
  * The reference iterates persons one at a time over HTTP
  * (`wbsearchentities` per name, `fetch_item` per hit). The Spark-first
  * shape replaces the search API with a name-equality join against the
  * mirrored dump's label/alias table (the same evidence the search
  * endpoint indexes) and the per-pair `algorithm.compare` with the
  * vectorized scoring of [[DatasetEnricher.matchCandidates]]; decisions
  * are one partitioned window over the candidate table. Nothing leaves
  * the cluster and no step is per-entity.
  */
object Reconcile {

  /** Auto-merge threshold (`cli.py` reconcile `--threshold` default). */
  val Threshold = 0.9

  // ------------------------------------------------------ store walks

  /** Resolve a person's QID-bearing positions into P39 claim input
    * (`wikidata/reconcile.py:152-186` `position_claims`): walk holder →
    * Occupancy → post → Position, keep posts that already carry a
    * `wikidataId`, pair each with curated tenure dates
    * (`startDate ?? periodStart`, `endDate ?? periodEnd`). One row per
    * occupancy — [[Propose.enrich]] regroups by post, so re-elections
    * surface as multi-occupancy posts (bare statement, no qualifiers).
    *
    * Statements-in, claims-out: `(entity_id, pos_qid, start, end)`.
    * Both joins key on entity ids — at scale they shuffle on the id,
    * the same co-location every other store walk uses.
    */
  def positionClaims(stmts: DataFrame): DataFrame = {
    val occ = stmts.filter(col("schema") === "Occupancy")
      .groupBy(col("entity_id").as("occ_id"))
      .agg(
        min(when(col("prop") === "holder", col("value"))).as("holder"),
        min(when(col("prop") === "post", col("value"))).as("post"),
        min(when(col("prop") === "startDate", col("value"))).as("sd"),
        min(when(col("prop") === "periodStart", col("value"))).as("ps"),
        min(when(col("prop") === "endDate", col("value"))).as("ed"),
        min(when(col("prop") === "periodEnd", col("value"))).as("pe"))
      .filter(col("holder").isNotNull && col("post").isNotNull)
    val posQids = stmts.filter(col("schema") === "Position" &&
      col("prop") === "wikidataId")
      .select(col("entity_id").as("post"), col("value").as("pos_qid"))
      .dropDuplicates("post")
    // posts are a lexicon-sized set (positions ≪ occupancies at any
    // scale): broadcast them so the aggregated occupancy side keeps
    // its entity_id partitioning instead of re-exchanging on `post`
    occ.join(broadcast(posQids), Seq("post"))
      .select(col("holder").as("entity_id"), col("pos_qid"),
        coalesce(col("sd"), col("ps")).as("start"),
        coalesce(col("ed"), col("pe")).as("end"))
  }

  /** Established person→QID links (`reconcile.py:219-226`): the
    * resolver canonical when it is itself a QID, else the entity's own
    * `wikidataId` statement. `canonicals` is the resolver's
    * (member, canonical) map; pass an empty frame when unresolved.
    */
  def linkedQids(stmts: DataFrame, canonicals: DataFrame): DataFrame = {
    val viaCanonical = canonicals
      .filter(col("canonical").rlike("^Q[0-9]+$"))
      .select(col("member").as("entity_id"), col("canonical").as("qid"))
    val viaProp = stmts.filter(col("schema") === "Person" &&
      col("prop") === "wikidataId" && col("value").rlike("^Q[0-9]+$"))
      .select(col("entity_id"), col("value").as("qid"))
    viaCanonical.unionByName(viaProp)
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("entity_id")).orderBy(col("qid"))))
      .filter(col("rn") === 1).drop("rn")
  }

  // ------------------------------------------------- candidate search

  /** Search candidates as a name join against the mirrored dump
    * (`client.search_items` + `candidate_proxy` in one pass): person
    * name-type values equality-matched (casefolded) against the dump's
    * label/alias texts, human items only (`reconcile.py:79-82` the
    * P31=Q5 gate — a non-human hit is not a person candidate). A label
    * hit outranks an alias hit, standing in for the scorer when the
    * caller does not re-score: `(entity_id, qid, score)` with label 1.0
    * / alias 0.8, max per pair.
    *
    * The dump-names side is dwarfed by a real corpus's query side, so
    * the join shuffles on the name text — both sides hash-partition on
    * the equality key, no broadcast of the dump needed at 100 TB.
    */
  def searchCandidates(personStmts: DataFrame, snaks: DataFrame)
      : DataFrame = {
    // ONE dump aggregate instead of names ⋈ semi(distinct human): the
    // P31=Q5 human gate and the label/alias texts ride the same
    // groupBy(qid) (names explode back out after the gate) — two
    // shuffles and a join collapse into one Exchange, and the family
    // bills per sequential stage
    val dumpNames = snaks.filter(
      (col("role") === "main" && col("prop") === "P31" &&
        col("vEntity") === "Q5") ||
      (col("role").isin("label", "alias") && col("vString").isNotNull))
      .groupBy(col("qid")).agg(
        max(col("role") === "main").as("human"),
        collect_list(when(col("role") =!= "main",
          struct(lower(col("vString")).as("text"),
            when(col("role") === "label", 1.0).otherwise(0.8)
              .as("tier")))).as("names"))
      .filter(col("human"))
      .select(col("qid"), explode(col("names")).as("n"))
      .select(col("qid"), col("n.text").as("text"),
        col("n.tier").as("tier"))
    // no distinct on the query names: the max-per-(entity, qid)
    // aggregate below already absorbs duplicate name rows
    val queryNames = personStmts
      .filter(col("prop_type") === graft.model.Ftm.T.Name)
      .select(col("entity_id"), lower(col("value")).as("text"))
    queryNames.join(dumpNames, Seq("text"))
      // partition by entity_id alone (satisfies the aggregate's
      // clustering by the subset rule) so decide()'s anti-joins and
      // best-candidate window run on THIS partitioning with no
      // further Exchange
      .repartition(col("entity_id"))
      .groupBy(col("entity_id"), col("qid"))
      .agg(max(col("tier")).as("score"))
  }

  /** Matcher-scored candidates (`reconcile.py:189-214` `rank_candidates`
    * with a real algorithm): the blocker match join against the dump
    * mirror plus algorithm re-scoring, via the shared enricher path.
    */
  def rankCandidates(s: SparkSession, personStmts: DataFrame,
      mirror: DataFrame, algorithm: String = Algorithms.default.name,
      cfg: Blocker.Config = Blocker.Config()): DataFrame =
    new DatasetEnricher("wikidata", mirror)
      .matchCandidates(s, personStmts, algorithm, cfg)
      .select(col("query_id").as("entity_id"),
        col("candidate_id").as("qid"), col("match_score").as("score"))

  // ------------------------------------------------------- decisions

  /** The reconcile decision split (`reconcile.py:282-342`): per person,
    * `enrich` when already linked, `merge` for the best candidate above
    * the threshold (after the resolver's check_candidate — a decided
    * pair never re-surfaces), else `create`, carrying the best
    * surviving candidate as advisory context (the review queue's
    * content) when one exists.
    *
    * `persons` is the entity universe (one id per person), `candidates`
    * `(entity_id, qid, score)`, `linked` `(entity_id, qid)`, `decided`
    * the already-judged `(entity_id, qid)` pairs. Returns
    * `(entity_id, decision, qid, score)`.
    */
  def decide(persons: DataFrame, candidates: DataFrame,
      linked: DataFrame, decided: DataFrame,
      threshold: Double = Threshold): DataFrame = {
    // linked/decided are human-decision tables — bounded by review
    // throughput, never corpus-sized — so broadcast anti-joins keep
    // the candidate table on its incoming entity_id partitioning
    // (no re-Exchange before the window)
    val surviving = candidates
      .join(broadcast(linked.select(col("entity_id"))), Seq("entity_id"),
        "left_anti")
      .join(broadcast(decided.select(col("entity_id"), col("qid"))),
        Seq("entity_id", "qid"), "left_anti")
    val best = surviving
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("entity_id"))
        .orderBy(col("score").desc, col("qid"))))
      .filter(col("rn") === 1).drop("rn")
    val enrich = linked.select(col("entity_id"),
      lit("enrich").as("decision"), col("qid"),
      lit(null).cast("double").as("score"))
    // merge and create are disjoint selections of the SAME unlinked
    // rows with identical output columns — one leg with a conditional
    // decision, not two union legs each recomputing the anti-joins
    val split = persons.select(col("entity_id"))
      .join(broadcast(linked.select(col("entity_id"))), Seq("entity_id"),
        "left_anti")
      .join(best, Seq("entity_id"), "left_outer")
      .select(col("entity_id"),
        when(col("score") > threshold, "merge").otherwise("create")
          .as("decision"),
        col("qid"), col("score"))
    enrich.unionByName(split)
  }

  /** Full batch reconcile (`reconcile.py:282-342` `reconcile`): the
    * decision split plus its consequences — resolver edge rows for the
    * auto-merges (judgement positive, the `resolver.decide` the
    * reference performs per match) and QuickStatements commands: enrich
    * proposals for the linked persons (with their store-walked position
    * claims) and CREATE blocks for the rest.
    *
    * Returns (decisions, mergeEdges, commands); `commands` reads the
    * proposal scaffold `held` pins (see [[Propose.enrich]]).
    */
  def reconcile(held: graft.Caches.Held)(stmts: DataFrame, snaks: DataFrame,
      canonicals: DataFrame, decided: DataFrame,
      candidates: DataFrame, threshold: Double = Threshold,
      create: Boolean = true, retrieved: Option[String] = None,
      sourceUrl: Option[String] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val persons = stmts.filter(col("schema") === "Person")
    val personIds = persons.select(col("entity_id")).distinct()
    val linked = linkedQids(persons, canonicals)
    val decisions = decide(personIds, candidates, linked, decided,
      threshold)
    val merges = decisions.filter(col("decision") === "merge")
      .select(col("entity_id").as("src"), col("qid").as("dst"),
        col("score"))
    val enrichCmds = Propose.enrich(held)(
      linked, persons, snaks, positionClaims(stmts), retrieved,
      sourceUrl)
    val commands =
      if (!create) enrichCmds
      else {
        val toCreate = decisions.filter(col("decision") === "create")
          .select(col("entity_id"))
        enrichCmds.unionByName(Propose.create(
          persons.join(broadcast(toCreate), Seq("entity_id")),
          retrieved, sourceUrl))
      }
    (decisions, merges, commands)
  }
}
