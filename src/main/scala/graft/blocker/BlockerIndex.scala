package graft.blocker

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{ManifestLog, MergeLake}

/** Incrementally-maintained blocker index — the production answer to
  * the one corpus-proportional stage left in the composed incremental
  * loop: after a MERGE lands a delta batch, the stored TF/postings
  * artifacts are FOLDED FORWARD in O(|Δ|·tokens) instead of re-derived
  * from a corpus scan (the reference rebuilds its DuckDB index from
  * scratch per xref run, `blocker/index.py:209-230,499-531`; at 100 TB
  * that rebuild dominates every increment, so this engine maintains
  * the same sums the reference's `_build_frequencies` computes —
  * per-token df/freq ARE sums, IDF is a scalar rollup — additively).
  *
  * Layout under `indexPath`:
  *
  * {{{
  *   entries/         MergeLake of PACKED per-entity postings: one row
  *                    per entity (key = entity id), the entity's token
  *                    bag as an array — so an entity UPDATE is one
  *                    upsert that atomically retires every stale token
  *   stats-<gen>/     signed stat increments of one refresh generation:
  *                    per-(token,schema,field) df/freq, per-token
  *                    distinct-entity counts (tdf), corpus entity count
  *   blkidx-<N>       the committed index state: the entries-lake
  *                    manifest version this index corresponds to + the
  *                    ordered live stats generations
  * }}}
  *
  * '''Why entity-packed rows.''' Token postings are not row-upsertable:
  * an updated entity that LOST a token would leave the stale posting
  * behind. Packing each entity's bag into one row keyed on the entity
  * id makes MergeLake's last-writer-wins the exact replacement
  * semantics the index needs, and bucket-hashing on the id makes the
  * refresh's old-row read a pruned point lookup (|Δ| ids touch at most
  * min(|Δ|, buckets) buckets) instead of a corpus scan.
  *
  * '''Why signed stat logs.''' df/freq/tdf/N are sums over entries
  * rows; replacing an entity subtracts its old contribution and adds
  * its new one. Each refresh appends one Δ-sized signed increment;
  * readers fold the log with a vocabulary-sized (never corpus-sized)
  * aggregation. IDF and the stopword cost model are then the same
  * scalar rollups the batch build computes — through the SAME shared
  * expression trees ([[Blocker.idfExpr]], [[Blocker.weightSelect]]),
  * so the maintained index is BIT-EQUAL to a from-scratch rebuild
  * (BlockerIndexSpec asserts exact doubles; q_blk_index_add hash-gates
  * it against the full-rebuild oracle).
  *
  * '''Crash atomicity.''' A refresh performs three side effects —
  * stats write, entries-lake append, index-manifest commit — and only
  * the LAST publishes: readers resolve the newest `blkidx-<N>` and
  * read the entries lake AT ITS RECORDED VERSION, so a crash between
  * steps leaves the previous index state fully consistent. A replayed
  * refresh rewrites its `stats-<gen>` dir against the committed state
  * and re-appends the packed batch — last-writer-wins makes the
  * duplicate append a no-op, so replay converges (same idempotence
  * story as MergeLake).
  */
object BlockerIndex {

  /** The committed index state a `blkidx-<N>` manifest encodes. */
  final case class IdxManifest(version: Int, entVersion: Int,
      statsDirs: Seq[String])

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def entriesPath(indexPath: String): String =
    new Path(indexPath, "entries").toString

  // ---- index manifest codec ------------------------------------------

  private val log = new ManifestLog[IdxManifest]("blkidx", "blocker index")(
    m => ("graft-blkidx 1" +: s"entversion ${m.entVersion}" +:
      m.statsDirs.map(d => s"stats $d")).map(_ + "\n").mkString,
    (v, text) => {
      var entVersion = -1
      val stats = Seq.newBuilder[String]
      text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
        line.split(' ') match {
          case Array("graft-blkidx", "1") => ()
          case Array("entversion", n) => entVersion = n.toInt
          case Array("stats", d) => stats += d
          case other => sys.error(s"bad blkidx line: ${other.mkString(" ")}")
        }
      }
      require(entVersion >= 0, s"blkidx-$v missing entversion")
      IdxManifest(v, entVersion, stats.result())
    })

  def readManifest(s: SparkSession, indexPath: String): IdxManifest =
    log.read(s, new Path(indexPath))

  private def commit(s: SparkSession, indexPath: String,
      m: IdxManifest): Unit =
    log.commit(s, new Path(indexPath), m.version, m)

  // ---- packing -------------------------------------------------------

  private val EmptyToks = "array<struct<schema:string,field:string," +
    "token:string,cnt:bigint>>"

  /** Entries rows of one-or-more entities → one packed row per entity.
    * `n_names` is the batch path's per-entity name mass
    * ([[Blocker.termFrequencies]]) materialized at write time (zero cost
    * at read, where the batch path pays a window over the corpus).
    */
  private def pack(entries: DataFrame): DataFrame =
    entries.groupBy(col("id")).agg(
      sort_array(collect_list(struct(col("schema").as("schema"),
        col("field").as("field"), col("token").as("token"),
        col("cnt").cast("long").as("cnt")))).as("toks"),
      greatest(lit(1L), coalesce(sum(when(col("field") === "name",
        col("cnt"))), lit(1L))).as("n_names"))

  private def packedBatch(entries: DataFrame, ids: DataFrame,
      gen: String): DataFrame =
    // LEFT join from the touched-id set: an entity whose update removed
    // every token still gets a row (empty bag) so the upsert retires
    // its stale postings
    ids.join(pack(entries), Seq("id"), "left_outer")
      .select(col("id").as("stmt_id"),
        coalesce(col("n_names"), lit(1L)).as("n_names"),
        // the cast aligns nullability flags with the empty-array
        // literal so coalesce type-checks
        coalesce(col("toks").cast(EmptyToks),
          expr(s"CAST(array() AS $EmptyToks)")).as("toks"),
        lit(gen).as("last_seen"), lit("").as("value"))

  /** Signed stat increment of one entries frame: the exact aggregates
    * the batch build derives ([[Blocker.tokenStats]] df/freq at field
    * grain so min(field) survives retraction, [[Blocker.idf]]'s tdf/N
    * distinct-entity counts), multiplied by `sign`.
    */
  private def statRows(entries: DataFrame, sign: Int): DataFrame = {
    val sgn = lit(sign.toLong)
    val tfs = entries.groupBy(col("token"), col("schema"), col("field"))
      .agg((count(lit(1)) * sgn).as("df"),
        (sum(col("cnt")) * sgn).as("freq"))
      .select(lit("tfs").as("kind"), col("token"), col("schema"),
        col("field"), col("df"), col("freq"),
        lit(null).cast("long").as("tdf"), lit(null).cast("long").as("n"))
    val tdf = entries.groupBy(col("token"))
      .agg((countDistinct(col("id")) * sgn).as("tdf"))
      .select(lit("tdf").as("kind"), col("token"),
        lit(null).cast("string").as("schema"),
        lit(null).cast("string").as("field"),
        lit(null).cast("long").as("df"), lit(null).cast("long").as("freq"),
        col("tdf"), lit(null).cast("long").as("n"))
    val n = entries.agg((countDistinct(col("id")) * sgn).as("n"))
      .select(lit("n").as("kind"), lit(null).cast("string").as("token"),
        lit(null).cast("string").as("schema"),
        lit(null).cast("string").as("field"),
        lit(null).cast("long").as("df"), lit(null).cast("long").as("freq"),
        lit(null).cast("long").as("tdf"), col("n"))
    tfs.unionByName(tdf).unionByName(n)
  }

  /** Always rewritten, never reused: a stats dir no committed manifest
    * names holds retractions computed against the state its writer
    * read, and a writer that lost a commit race retries against a
    * state that has moved on. After a plain crash the rewrite is
    * identical.
    */
  private def writeStats(indexPath: String, dir: String,
      rows: DataFrame): Unit =
    rows.write.mode("overwrite").parquet(new Path(indexPath, dir).toString)

  // ---- writes --------------------------------------------------------

  /** Build the index from a full statement corpus (day 0 — the one
    * corpus-sized pass, the same work the batch build does once).
    */
  def init(stmts: DataFrame, indexPath: String,
      tokenize: DataFrame => DataFrame,
      nBuckets: Int = MergeLake.DefaultBuckets): Unit = {
    val s = stmts.sparkSession
    val root = new Path(indexPath)
    val f = fs(s, root)
    if (f.exists(root)) f.delete(root, true)
    f.mkdirs(root)
    val entries = tokenize(stmts)
    val ids = entries.select(col("id")).distinct()
    MergeLake.init(packedBatch(entries, ids, "init"),
      entriesPath(indexPath), nBuckets)
    writeStats(indexPath, "stats-init", statRows(entries, 1))
    commit(s, indexPath, IdxManifest(0,
      MergeLake.currentVersion(s, entriesPath(indexPath)),
      Seq("stats-init")))
  }

  /** Fold one increment into the index — O(|Δ|·tokens).
    *
    * `sliceStmts` must be ALL post-merge statements of the `touched`
    * entities (entity-level replacement semantics: tokenization is a
    * per-entity function, so the slice alone reproduces exactly the
    * touched entities' rows of a full rebuild). `gen` names the batch
    * (e.g. its last_seen) and must be fresh — re-applying a committed
    * generation fails loudly rather than double-counting; a replay of
    * a CRASHED refresh with the same gen converges.
    */
  def refresh(s: SparkSession, indexPath: String, sliceStmts: DataFrame,
      touched: Seq[String], gen: String,
      tokenize: DataFrame => DataFrame,
      compactEvery: Int = 8): Unit = {
    import s.implicits._
    val m = readManifest(s, indexPath)
    val statsDir = s"stats-$gen"
    require(!m.statsDirs.contains(statsDir),
      s"blocker-index generation '$gen' is already committed — " +
        "double-applying a batch would double-count its stats")
    val lake = entriesPath(indexPath)
    val touchedDf = broadcast(touched.toDF("id"))

    // the touched entities' CURRENT postings, at the pinned lake
    // version: a bucket-pruned point read, |Δ| ids → ≤ min(|Δ|, B)
    // buckets, never a corpus scan
    val bs = MergeLake.bucketsOf(s, lake, touched)
    val oldExploded = explodeView(
      MergeLake.snapshot(s, lake, Some(bs), Some(m.entVersion))
        .join(touchedDf, col("stmt_id") === touchedDf("id"), "left_semi"))
      .drop("n_names")

    // their NEW postings, from the post-merge slice alone
    val newEntries = tokenize(sliceStmts)
      .join(touchedDf, Seq("id"), "left_semi")

    writeStats(indexPath, statsDir,
      statRows(newEntries, 1).unionByName(statRows(oldExploded, -1)))
    MergeLake.append(packedBatch(newEntries, touchedDf, gen), lake)
    commit(s, indexPath, IdxManifest(m.version + 1,
      MergeLake.currentVersion(s, lake), m.statsDirs :+ statsDir))
    // scheduled maintenance: past the threshold, fold everything so
    // reads stay one bare scan + one folded stats scan
    if (m.statsDirs.size + 1 >= compactEvery) compact(s, indexPath)
  }

  /** Fold the index's maintenance state: compact the entries lake
    * (merge-on-read union → bare scan) and fold the signed stat log
    * into ONE generation, committing a manifest that pins both — the
    * scheduled maintenance a deployment runs every K increments, and
    * what keeps the TF view's read cost flat as generations accumulate
    * (each uncompacted delta adds a window leg to every snapshot and a
    * log dir to every stats fold). Crash-safe like refresh: nothing is
    * visible until the final manifest commit, and a replay rewrites the
    * folded stats dir.
    */
  def compact(s: SparkSession, indexPath: String): Unit = {
    val m = readManifest(s, indexPath)
    val lake = entriesPath(indexPath)
    val dir = f"stats-compact-${m.version + 1}%08d"
    val folded = statsLog(s, indexPath)
      .groupBy(col("kind"), col("token"), col("schema"), col("field"))
      .agg(sum(col("df")).as("df"), sum(col("freq")).as("freq"),
        sum(col("tdf")).as("tdf"), sum(col("n")).as("n"))
      // fully-retracted rows fold to zero — drop them so the vocab
      // stays tight (the corpus-count row always survives)
      .filter(col("kind") === "n" ||
        coalesce(col("df"), lit(0L)) =!= 0 ||
        coalesce(col("freq"), lit(0L)) =!= 0 ||
        coalesce(col("tdf"), lit(0L)) =!= 0)
    writeStats(indexPath, dir, folded)
    MergeLake.compact(s, lake): Unit
    commit(s, indexPath, IdxManifest(m.version + 1,
      MergeLake.currentVersion(s, lake), Seq(dir)))
    gc(s, indexPath)
  }

  /** Drop stats generations and blkidx manifests outside the retention
    * horizon ([[ManifestLog.retained]] — the same in-flight-reader grace
    * MergeLake keeps).
    */
  private def gc(s: SparkSession, indexPath: String): Unit =
    log.trim(s, new Path(indexPath))(_.startsWith("stats-"), _.statsDirs)

  // ---- reads ---------------------------------------------------------

  private def explodeView(packed: DataFrame): DataFrame =
    packed.select(col("stmt_id").as("id"), col("n_names"),
        explode(col("toks")).as("t"))
      .select(col("t.schema").as("schema"), col("id"),
        col("t.field").as("field"), col("t.token").as("token"),
        col("t.cnt").as("cnt"), col("n_names"))

  /** The maintained entries view: (schema, id, field, token, cnt,
    * n_names) — [[Blocker.entries]]' output plus the write-time
    * n_names. One pruned lake scan + a narrow explode; with no
    * uncompacted deltas, zero Exchange.
    */
  def entriesView(s: SparkSession, indexPath: String): DataFrame = {
    val m = readManifest(s, indexPath)
    explodeView(MergeLake.snapshot(s, entriesPath(indexPath),
      None, Some(m.entVersion)))
  }

  private def statsLog(s: SparkSession, indexPath: String): DataFrame = {
    val m = readManifest(s, indexPath)
    s.read.parquet(
      m.statsDirs.map(d => new Path(indexPath, d).toString): _*)
  }

  /** The signed log folded ONCE at its finest grain — every reader
    * below (tokenFieldStatsOf for stopwords/tokenStats, idfViewOf's
    * tdf and N rollups) filters this same frame, so within one plan the
    * planner reuses a single Exchange over a single log scan instead
    * of paying one scan + shuffle per consumer (r12 measured three
    * separate folds inside every termFrequencies read). Two load-
    * bearing details: the grouping EXCLUDES `kind` — the three kinds
    * have disjoint (token, schema, field) null patterns, so nothing
    * merges across kinds and the key set stays identical — and `kind`
    * is re-emitted as an AGGREGATE output (its value is functionally
    * determined by the key), so a consumer's `kind` filter cannot be
    * pushed below the aggregation; a grouping-column filter would be,
    * and each consumer would get its own filtered scan + Exchange
    * again.
    */
  private def foldedLog(s: SparkSession, indexPath: String): DataFrame =
    statsLog(s, indexPath)
      .groupBy(col("token"), col("schema"), col("field"))
      .agg(max(col("kind")).as("kind"),
        sum(col("df")).as("df"), sum(col("freq")).as("freq"),
        sum(col("tdf")).as("tdf"), sum(col("n")).as("n"))

  /** Folded per-(token, schema, field) stats — vocabulary-sized. */
  private def tokenFieldStatsOf(log: DataFrame): DataFrame =
    log.filter(col("kind") === "tfs")
      .select(col("token"), col("schema"), col("field"), col("df"),
        col("freq"))
      .filter(col("df") > 0)

  /** [[Blocker.tokenStats]] folded from the log: identical longs, and
    * min(field) ranges over the surviving per-field rows exactly like
    * the batch build's min over entries rows.
    */
  def tokenStats(s: SparkSession, indexPath: String): DataFrame =
    tokenStatsOf(foldedLog(s, indexPath))

  private def tokenStatsOf(log: DataFrame): DataFrame =
    tokenFieldStatsOf(log)
      .groupBy(col("token"), col("schema"))
      .agg(sum(col("df")).as("df"), sum(col("freq")).as("freq"),
        min(col("field")).as("field"))

  /** [[Blocker.idf]] from the maintained tdf/N rollups — the "IDF is a
    * scalar recompute" half of the design; same expression tree.
    */
  private def idfViewOf(log: DataFrame): DataFrame = {
    val n = log.filter(col("kind") === "n")
      .agg(sum(col("n")).as("n_entities"))
    log.filter(col("kind") === "tdf")
      .select(col("token"), col("tdf"))
      .filter(col("tdf") > 0)
      .crossJoin(broadcast(n))
      .select(col("token"), Blocker.idfExpr.as("idf"))
  }

  /** The maintained TF index — [[Blocker.termFrequencies]] served from
    * the stored artifacts: entries explode (pruned scan) ⟕̸ stopwords
    * (vocab) ⋈ idf (vocab), boosted by the same literal lookup and
    * weighted through the shared expression tree. The idf join
    * shuffles on `token` only if
    * the vocab outgrows the broadcast threshold — the same key the
    * downstream pair self-join shuffles on anyway.
    */
  def termFrequencies(s: SparkSession, indexPath: String,
      compat: DataFrame, boosts: DataFrame,
      cfg: Blocker.Config = Blocker.Config(),
      dampFields: Seq[String] = Seq("name")): DataFrame = {
    val e = entriesView(s, indexPath)
    // ONE statsLog reader frame feeds both consumers: each foldedLog
    // call opened its own parquet reader (a driver footer job per
    // call) and only coincidentally identical subtrees let the
    // planner reuse the Exchange — sharing the frame makes both
    // guaranteed
    val log = foldedLog(s, indexPath)
    val sw = Blocker.stopwords(tokenStatsOf(log), compat, cfg)
      .select(col("token"))
    Blocker.weightSelect(
      e.join(sw, Seq("token"), "left_anti")
        .join(idfViewOf(log), Seq("token")),
      boosts, dampFields)
  }
}
