package graft.resolver

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Resolver edit operations in batch DataFrame form — the reference
  * mutates an edge table in place (`resolver/resolver.py:284-651`); here
  * every edit is a pure transformation old-edge-log → new-edge-log, so
  * the log stays an append-only/versioned table at scale (snapshot per
  * batch, exactly like the delta-style stores in SURVEY §1.2).
  *
  * Edge schema: (target, source, judgement, score, user, created_at,
  * deleted_at) with judgement ∈ positive/negative/unsure/no_judgement
  * (`judgement.py:4-21`); soft delete via `deleted_at`
  * (`resolver/resolver.py:84-97`).
  */
object ResolverOps {

  val Positive = "positive"
  val Negative = "negative"
  val NoJudgement = "no_judgement"

  def live(edges: DataFrame): DataFrame =
    edges.filter(col("deleted_at").isNull)

  private def pairKey(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    concat(least(a, b), lit("|"), greatest(a, b))

  /** `decide` (`resolver/resolver.py:353-401`) batch form: upsert
    * judgement edges for the given (src, dst, judgement, score) rows —
    * any previous edge for the same unordered pair is soft-deleted.
    */
  def decide(edges: DataFrame, decisions: DataFrame, user: String,
      ts: String): DataFrame = {
    val newEdges = decisions.select(
      col("src").as("target"), col("dst").as("source"),
      col("judgement"), col("score"),
      lit(user).as("user"), lit(ts).as("created_at"),
      lit(null).cast("string").as("deleted_at"))
    val keys = decisions.select(
      pairKey(col("src"), col("dst")).as("dk")).distinct()
    val retired = edges.join(broadcast(keys),
        pairKey(col("target"), col("source")) === col("dk"), "left_outer")
      .select(col("target"), col("source"), col("judgement"), col("score"),
        col("user"), col("created_at"),
        when(col("dk").isNotNull && col("deleted_at").isNull, lit(ts))
          .otherwise(col("deleted_at")).as("deleted_at"))
    retired.unionByName(newEdges)
  }

  /** `suggest` (`resolver/resolver.py:329-351`): record scored
    * NO_JUDGEMENT edges for pairs not already decided.
    */
  def suggest(edges: DataFrame, scored: DataFrame, user: String,
      ts: String): DataFrame = {
    val decided = live(edges).filter(col("judgement") =!= NoJudgement)
      .select(pairKey(col("target"), col("source")).as("dk")).distinct()
    val fresh = scored.join(broadcast(decided),
        pairKey(col("src"), col("dst")) === col("dk"), "left_anti")
      .select(col("src").as("target"), col("dst").as("source"),
        lit(NoJudgement).as("judgement"), col("score"),
        lit(user).as("user"), lit(ts).as("created_at"),
        lit(null).cast("string").as("deleted_at"))
    edges.unionByName(fresh)
  }

  /** `explode` (`resolver/resolver.py:486-496`): dissolve a cluster by
    * soft-deleting every edge touching any member.
    */
  def explode(edges: DataFrame, members: DataFrame, ts: String): DataFrame = {
    val m = members.select(col("member")).distinct()
    val mT = m.select(col("member").as("target"), lit(true).as("t_hit"))
    val mS = m.select(col("member").as("source"), lit(true).as("s_hit"))
    edges
      .join(broadcast(mT), Seq("target"), "left_outer")
      .join(broadcast(mS), Seq("source"), "left_outer")
      .select(col("target"), col("source"), col("judgement"), col("score"),
        col("user"), col("created_at"),
        when((col("t_hit") || col("s_hit")) && col("deleted_at").isNull,
          lit(ts)).otherwise(col("deleted_at")).as("deleted_at"))
  }

  /** `rename_node` (`resolver/resolver.py:447-484`): rewrite every live
    * edge endpoint `oldId` → `newId`, dropping self-edges.
    */
  def renameNode(edges: DataFrame, oldId: String, newId: String): DataFrame =
    edges.select(
      when(col("target") === oldId, newId).otherwise(col("target"))
        .as("target"),
      when(col("source") === oldId, newId).otherwise(col("source"))
        .as("source"),
      col("judgement"), col("score"), col("user"), col("created_at"),
      col("deleted_at"))
      .filter(col("target") =!= col("source"))

  /** `prune` (`resolver/resolver.py:498-608`) batch form: drop all
    * suggestions and re-express the edge log in canonical form — the
    * positive subgraph becomes star-shaped membership edges
    * (canonical → member), negative edges are rewritten through the
    * cluster map and deduped; canonical-to-canonical chains collapse
    * away because the map is already transitive.
    */
  def prune(edges: DataFrame, canonicalMap: DataFrame): DataFrame = {
    // Hint only the two join sides — hinting the shared parent would
    // carry a dangling broadcast hint into the non-join `stars` branch.
    val stars = canonicalMap.filter(col("member") =!= col("canonical"))
      .select(col("canonical").as("target"), col("member").as("source"),
        lit(Positive).as("judgement"))
    val lm = broadcast(canonicalMap
      .select(col("member").as("target"), col("canonical").as("tcan")))
    val rm = broadcast(canonicalMap
      .select(col("member").as("source"), col("canonical").as("scan")))
    val negs = live(edges).filter(col("judgement") === Negative)
      .join(lm, Seq("target"), "left_outer")
      .join(rm, Seq("source"), "left_outer")
      .select(coalesce(col("tcan"), col("target")).as("t"),
        coalesce(col("scan"), col("source")).as("s"))
      .filter(col("t") =!= col("s"))
      .select(least(col("t"), col("s")).as("target"),
        greatest(col("t"), col("s")).as("source"),
        lit(Negative).as("judgement"))
      .distinct()
    stars.unionByName(negs)
  }

  /** Edge dump to JSON lines (`resolver/resolver.py:622-636`):
    * `[target, source, judgement, score, user, created_at]`.
    */
  def dump(edges: DataFrame): DataFrame =
    live(edges).select(to_json(array(
      col("target"), col("source"), col("judgement"),
      col("score").cast("string"), col("user"), col("created_at")))
      .as("line"))

  /** Edge load from JSON lines (`resolver/resolver.py:638-651`). */
  def load(lines: DataFrame): DataFrame =
    lines.select(from_json(col("line"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)).as("a"))
      .select(col("a")(0).as("target"), col("a")(1).as("source"),
        col("a")(2).as("judgement"),
        col("a")(3).cast("double").as("score"), col("a")(4).as("user"),
        col("a")(5).as("created_at"),
        lit(null).cast("string").as("deleted_at"))

  /** Conflicting-match report (`conflicting_match.py:14-47`): subjects
    * suggested against two candidates that are negatively decided
    * against each other.
    */
  def conflictingMatches(suggestions: DataFrame,
      negatives: DataFrame): DataFrame = {
    val s1 = suggestions.select(col("subject"), col("candidate").as("b"),
      col("score").as("score_b"))
    val s2 = suggestions.select(col("subject"), col("candidate").as("c"),
      col("score").as("score_c"))
    s1.join(s2, Seq("subject")).filter(col("b") < col("c"))
      .join(negatives,
        least(col("b"), col("c")) === col("na") &&
          greatest(col("b"), col("c")) === col("nb"))
      .select(col("subject"), col("b"), col("c"),
        col("score_b"), col("score_c"))
  }
}
