package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained inverted-reference index — the stored
  * form of the reference's `get_inverted` lookup (`store/sql.py:
  * 219-237`: "which entities hold a statement whose value references
  * entity E?"), maintained per MERGE increment so the composed loop's
  * canonical apply can find the referrers of a relabeled cluster with
  * a Δ-sized pruned point read instead of the per-batch full-corpus
  * `prop_type = 'entity'` scan it shipped with in r12 (the last
  * corpus-proportional per-increment term the loop had).
  *
  * Layout under `indexPath`:
  *
  * {{{
  *   postings/      MergeLake of (ref, referrer) posting rows, upsert
  *                  key = "ref|referrer", BUCKETED BY `ref` so a
  *                  lookup by referenced id prunes to min(|ids|, B)
  *                  buckets; `live = false` rows are tombstones
  *   refidx-<N>     the committed sync point: the statement-lake
  *                  manifest version these postings reflect
  * }}}
  *
  * '''Why pair rows + tombstones (not packed rows).''' The lookup key
  * (referenced id) and the update key (referring entity) are different
  * axes: packing per referrer (the BlockerIndex shape) would make the
  * lookup un-prunable, packing per referenced id would make an update
  * touch every row the referrer points at without knowing them. Pair
  * rows bucketed by `ref` keep the lookup pruned, and retraction
  * becomes an upsert of `live = false` onto the same key — MergeLake's
  * last-writer-wins is exactly the add/retract semantics, and
  * compaction folds tombstones away with everything else.
  *
  * '''Δ-sized refresh without a corpus diff.''' The statements of the
  * touched entities are read TWICE from the (entity-bucketed, pruned)
  * statement lake: at the manifest version this index last synced to
  * (their old outgoing refs) and at the current version (their new
  * ones); the upserted rows are the symmetric difference — O(|Δ|·refs)
  * end to end. The pinned old read stays valid because the lake's GC
  * horizon retains the previous manifest generation and this index
  * re-syncs every increment, so its sync point is never more than one
  * committed batch behind ([[ManifestLog.retained]]).
  *
  * '''Crash atomicity / replay.''' The manifest commits LAST; a replay
  * after a committed refresh re-reads old == new (both at the current
  * lake content), upserts nothing, and re-commits the same sync point —
  * idempotent without generation bookkeeping.
  */
object RefIndex {

  /** Committed sync state: `stmtVersion` is the statement-lake
    * manifest version the postings reflect.
    */
  final case class Manifest(version: Int, stmtVersion: Int)

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def postingsPath(indexPath: String): String =
    new Path(indexPath, "postings").toString

  private val log = new ManifestLog[Manifest]("refidx", "ref index")(
    m => s"graft-refidx 1\nstmtversion ${m.stmtVersion}\n",
    (v, text) => {
      var stmtVersion = -1
      text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
        line.split(' ') match {
          case Array("graft-refidx", "1") => ()
          case Array("stmtversion", n) => stmtVersion = n.toInt
          case other => sys.error(s"bad refidx line: ${other.mkString(" ")}")
        }
      }
      require(stmtVersion >= 0, s"refidx-$v missing stmtversion")
      Manifest(v, stmtVersion)
    })

  def readManifest(s: SparkSession, indexPath: String): Manifest =
    log.read(s, new Path(indexPath))

  private def commit(s: SparkSession, indexPath: String,
      m: Manifest): Unit =
    log.commit(s, new Path(indexPath), m.version, m)

  /** Entity-reference pairs of a statement frame: one row per distinct
    * (referenced id, referring entity).
    */
  private def refPairs(stmts: DataFrame): DataFrame =
    stmts.filter(col("prop_type") === "entity")
      .select(col("value").as("ref"), col("canonical_id").as("referrer"))
      .distinct()

  private def asRows(pairs: DataFrame, live: Boolean,
      gen: String): DataFrame =
    pairs.select(
      concat_ws("|", col("ref"), col("referrer")).as("stmt_id"),
      col("ref"), col("referrer"), lit(live).as("live"),
      lit(gen).as("last_seen"), lit("").as("value"))

  /** Build the index from the statement lake's full current state (the
    * day-0 corpus pass, done once).
    */
  def init(s: SparkSession, indexPath: String,
      stmtLakePath: String,
      nBuckets: Int = MergeLake.DefaultBuckets): Unit = {
    val root = new Path(indexPath)
    val f = fs(s, root)
    if (f.exists(root)) f.delete(root, true)
    f.mkdirs(root)
    val corpus = MergeLake.snapshot(s, stmtLakePath)
    MergeLake.init(asRows(refPairs(corpus), live = true, "init"),
      postingsPath(indexPath), nBuckets, bucketBy = "ref")
    commit(s, indexPath,
      Manifest(0, MergeLake.currentVersion(s, stmtLakePath)))
  }

  /** Fold one MERGE increment: upsert the symmetric difference of the
    * touched entities' outgoing refs between the last synced lake
    * version and the current one — O(|Δ|·refs), both reads pruned to
    * the touched entities' buckets. Call AFTER the batch's statement-
    * lake append, BEFORE any compaction of it (the pinned old read
    * needs the previous generation, which the lake's GC horizon
    * retains for exactly this window).
    */
  def refresh(s: SparkSession, indexPath: String, stmtLakePath: String,
      touched: Seq[String], gen: String): Unit = {
    import s.implicits._
    val m = readManifest(s, indexPath)
    val cur = MergeLake.currentVersion(s, stmtLakePath)
    require(cur >= m.stmtVersion,
      s"ref index at $indexPath is synced past the lake ($cur < " +
        s"${m.stmtVersion}) — wrong lake?")
    if (cur == m.stmtVersion) return
    val touchedDf = broadcast(touched.toDF("tid"))
    val bs = MergeLake.bucketsOf(s, stmtLakePath, touched)
    def refsAt(v: Int): DataFrame = refPairs(
      MergeLake.snapshot(s, stmtLakePath, Some(bs), Some(v))
        .join(touchedDf, col("canonical_id") === col("tid"), "left_semi"))
    val old = refsAt(m.stmtVersion)
    val nw = refsAt(cur)
    val rows = asRows(old.exceptAll(nw), live = false, gen)
      .unionByName(asRows(nw.exceptAll(old), live = true, gen))
    MergeLake.append(rows, postingsPath(indexPath)): Unit
    commit(s, indexPath, Manifest(m.version + 1, cur))
  }

  /** The live postings, un-pruned (the full-read surface the gated
    * query hashes against its full-scan oracle).
    */
  def postings(s: SparkSession, indexPath: String): DataFrame =
    MergeLake.snapshot(s, postingsPath(indexPath))
      .filter(col("live"))
      .select(col("ref"), col("referrer"))

  /** Referrers of a referenced-id set — the `get_inverted` lookup,
    * pruned to the ids' buckets. `ids` must expose one string column;
    * its distinct bucket set is collected (≤ nBuckets values, a
    * metadata-sized job) to drive partition pruning.
    */
  def referrers(s: SparkSession, indexPath: String,
      ids: DataFrame): DataFrame = {
    val p = postingsPath(indexPath)
    val n = MergeLake.readManifest(s, new Path(p)).nBuckets
    val keyCol = col(ids.columns.head)
    val bs = ids.select(pmod(xxhash64(keyCol), lit(n)).as("b"))
      .distinct().collect().map(_.getLong(0).toInt).toSeq.sorted
    MergeLake.snapshot(s, p, Some(bs))
      .join(broadcast(ids.select(keyCol.as("__ref"))),
        col("ref") === col("__ref"), "left_semi")
      .filter(col("live"))
      .select(col("ref"), col("referrer"))
  }

  /** Scheduled maintenance: fold the postings lake once its live delta
    * count crosses the threshold (tombstoned pairs whose latest row is
    * `live = false` stay one row each — corpus-bounded; truly dead
    * keys are rare enough that dropping them is left to the lake's
    * normal fold), and trim the `refidx-<N>` log to the retention
    * horizon — one sync point commits per refresh, so without the trim
    * a long-lived loop grows the root without bound.
    */
  def maintain(s: SparkSession, indexPath: String,
      compactEvery: Int = 8): Unit = {
    if (MergeLake.deltaCount(s, postingsPath(indexPath)) >= compactEvery)
      MergeLake.compact(s, postingsPath(indexPath)): Unit
    log.trim(s, new Path(indexPath))(_ => false, _ => Nil)
  }
}
