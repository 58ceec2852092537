package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocker.{Blocker, EntityTokenizer}
import graft.matching.{Algorithms, EntityMatch}
import graft.store.EntityStore
import graft.xref.Xref

/** Enrichment: match local entities against an external source and pull
  * in its candidate records (reference `enrich/__init__.py:46-103`,
  * `enrich/common.py:191-353`).
  *
  * The reference fetches per-entity over HTTP with a SQL response cache
  * (`cache.py:36-48`). At 100 TB per-entity API round-trips cannot work;
  * the Spark-first design is a *mirrored* source dataset (Wikidata and
  * OpenCorporates both publish bulk dumps) joined through the same
  * blocker machinery: query entities and mirror entities are tokenized
  * into one index, candidates come from the match join, and scoring
  * reuses the algorithm registry. The HTTP + cache path stays available
  * for small interactive lookups via [[ResponseCache]]; bulk enrichment
  * never leaves the cluster.
  */
final class DatasetEnricher(val name: String, mirror: DataFrame) {

  /** Candidate matches for a query statement table against the mirror:
    * (query_id, candidate_id, blocker score, algorithm score).
    */
  def matchCandidates(s: SparkSession, queryStmts: DataFrame,
      algorithm: String = Algorithms.default.name,
      cfg: Blocker.Config = Blocker.Config()): DataFrame = {
    val all = queryStmts.withColumn("side", lit("q"))
      .unionByName(mirror.withColumn("side", lit("m")))
    val entries = EntityTokenizer.entries(all)
    val compat = Xref.compatDf(s)
    val tf = Blocker.termFrequencies(entries, compat, Xref.boostsDf(s), cfg,
      dampFields = EntityTokenizer.DampFields)
    val sides = all.select(col("canonical_id").as("id"), col("side"))
      .distinct()
    val tfS = tf.join(sides, Seq("id"))
    val topk = Blocker.matchTopK(
      tfS.filter(col("side") === "q").drop("side"),
      tfS.filter(col("side") === "m").drop("side"), compat, cfg,
      broadcastQuery = false) // bulk path: the query side is a corpus
    // The topk subtree embeds the full blocker chain; score/expand plans
    // downstream reference it repeatedly, multiplying the logical plan
    // (multi-MiB task binaries, explainString OOM). The candidate list
    // is bounded (top-K per query), so truncate lineage here.
    val topkCk = topk.localCheckpoint(true)
    // assemble scoring views ONLY for entities that appear in a
    // candidate pair — the pair list is bounded (queries × K) while
    // `all` includes the whole mirror, so assembling everything did
    // mirror-sized aggregation work for rows scorePairs never reads
    val pairIds = topkCk.select(col("qid").as("canonical_id"))
      .unionByName(topkCk.select(col("cid").as("canonical_id")))
      .distinct()
    // widen ONE HOP over entity-typed refs (addressEntity etc., the
    // same hop expand() takes): views dereferences referenced Address
    // entities against these statements, and a referenced entity is
    // its own canonical_id that never appears in a candidate pair —
    // without the hop, ref-address features would silently score 0.
    // Still bounded: pairs × refs-per-entity, not mirror-sized.
    val refIds = all.join(broadcast(pairIds), Seq("canonical_id"),
      "left_semi")
      .filter(col("prop_type") === "entity")
      .select(col("value").as("canonical_id")).distinct()
    val wantedIds = pairIds.unionByName(refIds).distinct()
    val allCand = all.join(broadcast(wantedIds), Seq("canonical_id"),
      "left_semi")
    val views = EntityMatch.views(EntityStore.assemble(allCand), allCand)
    EntityMatch.scorePairs(
      topkCk.select(col("qid").as("lid"), col("cid").as("rid"),
        col("score").as("blocker_score")),
      views, Seq(algorithm))
      .select(col("lid").as("query_id"), col("rid").as("candidate_id"),
        col("blocker_score"),
        col(algorithm.replace("-", "_")).as("match_score"))
  }

  /** Pull the candidate entities' statements plus their adjacency
    * closure from the mirror (the reference's `expand` step,
    * `enrich/common.py:306-353` nested-entity fetch).
    */
  def expand(candidates: DataFrame): DataFrame = {
    val wanted = candidates.select(col("candidate_id").as("cid")).distinct()
    val direct = mirror.join(broadcast(wanted),
      mirror("canonical_id") === col("cid")).drop("cid")
    // one hop of referenced entities (addressEntity etc.)
    val refIds = direct.filter(col("prop_type") === "entity")
      .select(col("value").as("cid")).distinct()
    val referenced = mirror.join(broadcast(refIds),
      mirror("canonical_id") === col("cid")).drop("cid")
    direct.unionByName(referenced).dropDuplicates("id")
  }
}

/** Response cache with the reference's semantics (`cache.py:36-48`,
  * randomized TTL `cache.py:463-466`): keyed text blobs with a stored
  * timestamp, persisted as parquet, validity checked against a TTL with
  * a deterministic per-key jitter so a burst of inserts doesn't expire
  * as one thundering herd.
  */
final class ResponseCache(path: String) {

  def put(entries: DataFrame): Unit =
    entries.select(col("key"), col("text"),
      current_timestamp().as("stored_at"))
      .write.mode("append").parquet(path)

  /** Live entries: newest row per key within the jittered TTL. A
    * never-written cache reads as a typed empty table, not a
    * zero-column frame.
    */
  def get(s: SparkSession, maxAgeDays: Int): DataFrame = {
    val raw =
      try s.read.parquet(path)
      catch {
        case _: Exception =>
          return s.range(0).select(
            col("id").cast("string").as("key"),
            col("id").cast("string").as("text"),
            col("id").cast("timestamp").as("stored_at"))
      }
    val jitterDays = pmod(crc32(col("key")), lit(maxAgeDays / 5 + 1))
    raw.groupBy(col("key"))
      .agg(max_by(col("text"), col("stored_at")).as("text"),
        max(col("stored_at")).as("stored_at"))
      .filter(col("stored_at") >
        current_timestamp() - make_dt_interval(
          lit(maxAgeDays).cast("long") - jitterDays.cast("long")))
  }
}
