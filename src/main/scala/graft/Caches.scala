package graft

/** The one per-(session, sfDir) memo of the engine — the analyzed
  * table readers, the stored-index artifacts a production lake would
  * materialize at ingest (blocker TF/entries, resolver score table,
  * wikidata snak table, trained IVF centroids, PQ codes, banded
  * corpus, winnow fingerprints, BPE merges), their session pins and
  * the scalars collected from them — plus [[clearAll]], the one switch
  * that drops it. A long-lived session iterating regenerated data
  * directories calls `clearAll` between dirs; otherwise every entry
  * would pin its checkpoints for the session's lifetime and a
  * regenerated dir would keep serving its stale index.
  *
  * This object is the only code that persists, caches or unpersists a
  * frame. Every materialized frame has one of three lifetimes:
  *
  *  - call-scoped: a [[Held]] the caller releases in its `finally`
  *    ([[holding]]), once the call's product is materialized;
  *  - session-scoped: [[pinned]], a memo entry [[clearAll]] releases;
  *  - returned: [[checkpoint]], for an intermediate the returned frame
  *    still reads. Its blocks go with the frame.
  */
object Caches {

  private val memoMap = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, String), Any]

  /** Get-or-build `name` for (session, data dir). Entries of stopped
    * sessions are dropped on every access, so a long-lived JVM cycling
    * SparkSessions never retains a dead session (nor, through its
    * frames, the stopped context).
    *
    * A TrieMap, not `ConcurrentHashMap.computeIfAbsent`: builds nest
    * (an artifact build reads [[Tables]], a stats artifact reads the
    * postings pin), and `computeIfAbsent` throws on a recursive update.
    * Concurrent first touches may both build; the value inserted first
    * is the one every caller gets. Names are therefore unique across
    * the engine, and a session copy of a lake artifact (a pin or a
    * checkpoint over `IndexLake.artifact(s, d, n)`) takes a name other
    * than `n`: under a shared name the inner artifact scan, inserted
    * during the outer build, would be returned and the copy dropped.
    */
  def memo[T](s: org.apache.spark.sql.SparkSession, sfDir: String,
      name: String)(build: => T): T = {
    memoMap.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(memoMap.remove)
    memoMap.getOrElseUpdate((s, sfDir, name), build).asInstanceOf[T]
  }

  /** Eager persist (one parallel materialization job; every consumer
    * then reads the cache) with LINEAGE RETAINED — unlike
    * `localCheckpoint`, whose blocks live in non-reliable executor
    * storage and are unrecoverable after an executor loss on a real
    * cluster, a pinned partition that goes missing recomputes from its
    * parquet/shuffle lineage.
    *
    * DISK_ONLY, not MEMORY_AND_DISK: the corpus-sized array tables
    * (shingles, fp positions) cached on-heap taxed EVERY subsequent
    * query in the session ~2-4× through GC pressure (measured:
    * q_blk_stopword_stats 2.6 s pinned-in-memory vs 0.6 s unpinned,
    * a query that never touches the cache); local-disk blocks decode
    * once and read back at page-cache speed with zero heap footprint
    * — the xref scored-table rationale, applied session-wide.
    */
  private def pin(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    df.count()
    df
  }

  /** Session-scoped: `df` pinned once per (session, data dir) as the
    * memo entry `name`, released by [[clearAll]].
    */
  def pinned(s: org.apache.spark.sql.SparkSession, sfDir: String,
      name: String)(df: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    memo(s, sfDir, name)(pin(df))

  /** Returned: `df` materialized once with lineage cut, on local disk
    * (`localCheckpoint(eager)`, DISK_ONLY). Not registered in the
    * `CacheManager`; the blocks are freed once the frames reading them
    * are gone, or by the [[Held]] that adopts one of those frames.
    */
  def checkpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** The intermediates of one pipeline call, built once and released
    * together: `cut` materializes with lineage cut
    * (`localCheckpoint(eager)`, memory spilling to disk); `persist` is
    * a DISK_ONLY persist without an eager count — the first action over
    * the frame fills it, so a frame whose first consumer reads all of
    * it pays no extra job; `pin` is that persist filled at once, for a
    * frame whose consumers fan out in parallel (lazily, each would
    * compute it before any partition is cached); `adopt` takes over the
    * checkpoint blocks a frame built elsewhere reads. `release()` frees
    * every block these hold. A caller releases in a `finally` once its
    * product is materialized, so the call leaves nothing persisted but
    * what it returns.
    */
  final class Held {
    private val rdds =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    private val persisted =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]

    def cut(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val c = df.localCheckpoint(eager = true)
      rdds ++= checkpointRdds(c)
      c
    }

    def persist(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      persisted += df
      df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

    def pin(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      persisted += df
      Caches.pin(df)
    }

    def adopt(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      rdds ++= checkpointRdds(df)
      df
    }

    def release(): Unit = {
      rdds.foreach(_.unpersist(blocking = false))
      persisted.foreach(_.unpersist(blocking = false))
      rdds.clear()
      persisted.clear()
    }
  }

  /** `body` with a fresh [[Held]], released when `body` returns or
    * throws.
    */
  def holding[T](body: Held => T): T = {
    val held = new Held
    try body(held) finally held.release()
  }

  /** The RDDs a frame reads through `LogicalRDD` leaves: for a
    * `localCheckpoint` result, the blocks its rows live in.
    */
  private def checkpointRdds(df: org.apache.spark.sql.Dataset[_])
      : Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /* WHEN NOT TO PIN — the array-decode boundary (measured r10):
    * df.persist at ANY storage level stores COLUMNAR batches and
    * re-decodes them on every scan; for a small table of big arrays
    * fanned out compute-heavily (the banded embedding corpus, the
    * SemDedup ranked table) that decode measured ~2× on the whole
    * family vs `localCheckpoint(true)`, whose raw-row blocks are the
    * only true decode-once form. Rule, within each lifetime above:
    * corpus-text-sized frames → a persist ([[pinned]], `Held.pin`,
    * `Held.persist`; heap tax dominates); small array-heavy fan-out
    * tables → a checkpoint (`Held.cut`, or a memo entry over
    * `localCheckpoint(true)`, which [[clearAll]] releases too; decode
    * dominates, heap footprint is noise, and an executor-loss rebuild
    * from the backing lake artifact costs seconds).
    */

  /** Drop every in-session memo entry and fingerprint; the lake
    * artifacts on disk key on the data fingerprint and need no
    * clearing. A dropped pin or checkpoint is released too — otherwise
    * its blocks outlive the entry for the session's life, and the next
    * "rebuild" of an unchanged pin is a cache hit on them. So a frame
    * taken from the memo must not run after `clearAll`: its checkpoint
    * blocks are gone.
    */
  def clearAll(): Unit = {
    val dropped = memoMap.toList
    memoMap.clear()
    dropped.foreach {
      case ((s, _, _), df: org.apache.spark.sql.Dataset[_])
          if !s.sparkContext.isStopped =>
        if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
          df.unpersist(blocking = false)
        checkpointRdds(df).foreach(_.unpersist(blocking = false))
      case _ => ()
    }
    IndexLake.resetFingerprints()
  }

  /** Build and publish every stored-index artifact for a data dir —
    * the ingest step of the 100 TB pipeline (run once when data lands;
    * every query session after that reads the artifacts). Each call
    * below is read-or-build, so re-running on an unchanged dir is a
    * no-op; a regenerated dir re-keys the fingerprint and rebuilds.
    */
  def ensureAll(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val builds: Seq[() => Any] = Seq(
      () => blocker.BlockerQueries.entriesCk(s, d),
      () => blocker.BlockerQueries.tfCk(s, d),
      () => resolver.ResolverQueries.pairScoresCk(s, d),
      () => resolver.ResolverQueries.canonicalCk(s, d),
      () => enrich.WikidataQueries.snakCk(s, d),
      () => enrich.WikidataQueries.statementsQ(s, d),
      () => enrich.WikidataQueries.linksQ(s, d),
      () => enrich.ProposeQueries.personStmtsCk(s, d),
      () => enrich.BrightQueryQueries.recordsCk(s, d),
      () => enrich.NominatimQueries.gazetteerCk(s, d),
      () => enrich.PermIdQueries.orgsCk(s, d),
      () => similarity.KMeans.trainedCentroids(s, d),
      () => similarity.Pq.indexCk(s, d),
      () => similarity.SimilarityQueries.nearPreparedCk(s, d),
      () => dedup.DedupQueries.fpSetsCk(s, d),
      () => dedup.DedupQueries.fpPosCk(s, d),
      () => dedup.DedupQueries.shinglesCk(s, d),
      () => dedup.DedupQueries.charGramsCk(s, d),
      () => dedup.DedupQueries.lshPairsCk(s, d),
      () => dedup.DedupQueries.clusterCcCk(s, d),
      () => similarity.SimilarityQueries.embedCcCk(s, d),
      () => dedup.DedupQueries.ngramPairsCk(s, d),
      () => dedup.DedupQueries.cloneSpansCk(s, d),
      () => dedup.DedupQueries.simhashSigsCk(s, d),
      () => dedup.DedupQueries.substrPosCk(s, d),
      () => multimodal.Multimodal.ahashSigsCk(s, d),
      () => textanalysis.Curation.crossdocGramsCk(s, d),
      () => enrich.ProposeQueries.scaffoldCk(s, d),
      // the four scenario lakes: each publishes its init/refresh/
      // compact sequence if absent (IndexLake.stored, the same
      // _SUCCESS-gated publish as every parquet artifact), so no timed
      // query pays it
      () => store.StoreQueries.mergeQ(s, d),
      () => store.StoreQueries.refIndexAddQ(s, d),
      () => blocker.BlockerQueries.indexAddQ(s, d),
      () => search.Search.indexAddQ(s, d),
      () => matching.MatchingQueries.analysisCk(s, d),
      () => textanalysis.Bpe.trainedMergesCk(s, d),
      () => textanalysis.Classifier.modelCk(s, d),
      () => textanalysis.LangModel.lmModelCk(s, d),
      () => search.Search.postingsCk(s, d),
      () => search.Search.postingsStatsCk(s, d))
    // Concurrent ingest: the artifacts are independent write-once DAGs
    // (IndexLake publish-locks per artifact), and each build is a small
    // multi-stage Spark job whose stage boundaries leave most executor
    // cores idle when run one at a time — submitting from a few driver
    // threads lets the scheduler interleave their tasks. Failures
    // propagate through the Future.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    var failed = false
    try {
      val futs = builds.map(b => pool.submit(
        new java.util.concurrent.Callable[Any] { def call(): Any = b() }))
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // Surface the builder's own exception type to callers, and
            // don't leave the other submitted builds running after we
            // throw.
            failed = true
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally {
      if (failed) pool.shutdownNow() else pool.shutdown()
    }
  }
}
