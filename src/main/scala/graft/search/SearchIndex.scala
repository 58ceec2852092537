package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.MergeLake

/** Incrementally-maintained BM25 postings index — the retrieval twin
  * of the blocker's [[graft.blocker.BlockerIndex]] and the resolver's
  * [[graft.store.RefIndex]]: the stored inverted index
  * ([[Search.postingsCk]]) kept current per DOCUMENT increment instead
  * of rebuilt corpus-wide, so a continuous ingest pays O(|Δ|·terms)
  * per batch where the batch artifact pays a full corpus tokenize.
  *
  * Layout under `indexPath`:
  *
  * {{{
  *   postings/   MergeLake of (doc_key, term) → (tf, dl, source) rows,
  *               upsert key "doc|term", BUCKETED BY doc_key (string
  *               form of doc_id) — an update folds with a point read
  *               of ONLY the touched documents' buckets; `live = false`
  *               rows are tombstones for vanished (doc, term) keys
  *   stats/      MergeLake of per-generation SIGNED increments
  *               (Δn_docs, Δsum_dl), upsert key = the generation —
  *               (n_docs, avgdl) fold generations-sized, and the same
  *               exact-integer sum + one final double division the
  *               full-corpus derivation performs makes the maintained
  *               stats BIT-EQUAL to a rebuild's
  * }}}
  *
  * '''Why tombstones (not packed rows).''' An updated document's new
  * term set can DROP terms; the upsert of its new rows cannot retract
  * a stale (doc, term) key by itself. The fold reads the touched
  * documents' live postings (bucket-pruned), upserts the new rows, and
  * tombstones exactly the keys that vanished — MergeLake's
  * last-writer-wins is the add/retract semantics, compaction folds
  * tombstones with everything else (the [[graft.store.RefIndex]]
  * argument, on the update axis instead of the lookup axis).
  *
  * '''Replay.''' The stats lake doubles as the generation log: a
  * refresh whose generation is already committed returns without
  * reading anything (a re-derived fold against the already-folded
  * postings would compute a zero stats delta and clobber the original
  * — the skip is what makes at-least-once delivery safe).
  */
object SearchIndex {

  private def postingsPath(indexPath: String) = s"$indexPath/postings"
  private def statsPath(indexPath: String) = s"$indexPath/stats"

  /** Posting rows of a document frame in the lake schema. `doc_key`
    * (the bucket column) is the STRING form of doc_id — [[MergeLake
    * .bucketsOf]] hashes string values, and the hash must match the
    * bucket column's type for point reads to prune.
    */
  private def rows(docs: DataFrame, live: Boolean,
      gen: String): DataFrame =
    Search.postingsWithSourceOf(docs)
      .withColumn("doc_key", col("doc_id").cast("string"))
      .select(
        concat_ws("|", col("doc_key"), col("term")).as("stmt_id"),
        col("doc_key"), col("doc_id"), col("term"), col("tf"),
        col("dl"), col("source"), lit(live).as("live"),
        lit(gen).as("last_seen"), lit("").as("value"))

  private def statsRow(s: SparkSession, gen: String, dn: Long,
      ddl: Long): DataFrame = {
    import s.implicits._
    Seq((gen, dn, ddl, gen, ""))
      .toDF("stmt_id", "dn", "ddl", "last_seen", "value")
  }

  /** (docs-with-postings count, summed doc length) of a posting frame
    * — the exact-integer pair the stats lake accumulates.
    */
  private def measure(post: DataFrame): (Long, Long) = {
    val r = post.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Day-0 build from the full document corpus. */
  def init(s: SparkSession, indexPath: String, docs: DataFrame): Unit = {
    val base = rows(docs, live = true, "init")
    MergeLake.init(base, postingsPath(indexPath), bucketBy = "doc_key")
    val (n, sdl) = measure(
      MergeLake.snapshot(s, postingsPath(indexPath)))
    MergeLake.init(statsRow(s, "init", n, sdl), statsPath(indexPath))
  }

  /** Fold one document increment (new and/or re-ingested documents —
    * the delta carries each touched document's FULL new text): upsert
    * the new postings, tombstone the vanished keys, append the signed
    * stats delta. O(|Δ|·terms); the only index read is a bucket-pruned
    * point read of the touched documents' old postings.
    */
  def refresh(s: SparkSession, indexPath: String, delta: DataFrame,
      gen: String): Unit = {
    import s.implicits._
    // the stats lake is the generation log — skip a committed replay
    if (MergeLake.snapshot(s, statsPath(indexPath))
        .filter(col("stmt_id") === gen).limit(1).count() > 0) return
    graft.Caches.holding { held =>
      val nw = held.persist(rows(delta, live = true, gen))
      val touched = delta.select(col("doc_id").cast("string")).distinct()
        .collect().map(_.getString(0)).toIndexedSeq
      val p = postingsPath(indexPath)
      val bs = MergeLake.bucketsOf(s, p, touched)
      val old = held.persist(MergeLake.snapshot(s, p, Some(bs))
        .join(broadcast(touched.toDF("tk")), col("doc_key") === col("tk"),
          "left_semi")
        .filter(col("live")))
      val dead = old
        .join(nw.select(col("stmt_id")), Seq("stmt_id"), "left_anti")
        .select(col("stmt_id"), col("doc_key"), col("doc_id"), col("term"),
          col("tf"), col("dl"), col("source"), lit(false).as("live"),
          lit(gen).as("last_seen"), lit("").as("value"))
      MergeLake.append(nw.unionByName(dead), p): Unit
      val (nN, sN) = measure(nw)
      val (nO, sO) = measure(old)
      MergeLake.append(statsRow(s, gen, nN - nO, sN - sO),
        statsPath(indexPath)): Unit
    }
  }

  /** Scheduled maintenance on the loop's `maintainEvery` pattern. */
  def maintain(s: SparkSession, indexPath: String,
      compactEvery: Int = 8): Unit =
    Seq(postingsPath(indexPath), statsPath(indexPath)).foreach { p =>
      if (MergeLake.deltaCount(s, p) >= compactEvery)
        MergeLake.compact(s, p): Unit
    }

  /** The live postings view — [[Search.bm25Core]]'s `tf` input. */
  def postings(s: SparkSession, indexPath: String): DataFrame =
    MergeLake.snapshot(s, postingsPath(indexPath))
      .filter(col("live"))
      .select(col("source"), col("doc_id"), col("dl"), col("term"),
        col("tf"))

  /** The maintained (n_docs, avgdl) one-row frame — the fold of the
    * signed stats log, generations-sized. The division happens ONCE
    * here over exact-integer totals, so the value is bit-equal to the
    * full-corpus `sum(dl)/count` derivation.
    */
  def stats(s: SparkSession, indexPath: String): DataFrame =
    MergeLake.snapshot(s, statsPath(indexPath))
      .agg(sum(col("dn")).as("n_docs"),
        (sum(col("ddl")).cast("double") / sum(col("dn"))).as("avgdl"))
}
