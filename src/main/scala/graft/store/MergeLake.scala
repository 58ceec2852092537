package graft.store

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental statement-lake MERGE — the upsert-on-statement-id
  * semantics of the reference's SQL store (`store/sql.py:90-177`,
  * INSERT .. ON CONFLICT(id) DO UPDATE) as a delta-append +
  * partition-compaction lake, so a daily increment costs O(delta)
  * instead of rewriting the corpus (which is what dedupe-on-id +
  * overwrite costs at 100 TB).
  *
  * Layout under `path` (merge-on-read, the Hudi/Iceberg MOR shape in
  * plain parquet + Hadoop FS):
  *
  * {{{
  *   manifest-<N>                 the committed state (see below)
  *   base-<uuid>/bucket=K/...     compacted base generations
  *   delta-<seq>-<uuid>/bucket=K/ appended increments, manifest-ordered
  * }}}
  *
  * Every file set is hash-partitioned on the upsert key
  * (`pmod(xxhash64(stmt_id), nBuckets)`), which buys two things at
  * scale: (a) a snapshot read resolves each key WITHIN one bucket, so
  * with the bucket count matched to the cluster the resolve moves one
  * bucket per task and never re-partitions the corpus; (b) compaction
  * rewrites ONLY the buckets the deltas touched — a small increment
  * touches at most `delta-rows` buckets, so compaction cost is bounded
  * by touched data, not corpus size.
  *
  * '''Crash-atomic publish.''' Nothing is visible until a manifest
  * names it. A manifest is one file listing, per bucket, the base
  * directory that currently owns it, plus the ordered live delta
  * directories; it is committed through the shared [[ManifestLog]]
  * (written complete to a `.tmp` name and renamed to `manifest-<N+1>` —
  * a single-file atomic create), and readers always resolve the highest
  * committed `manifest-<N>`. A crash before the rename leaves orphan
  * directories no manifest references (invisible; swept by the next
  * compaction's GC); a crash after it leaves the new state fully
  * committed. There is never a half-state: compaction does
  * not delete-and-rename in place, it writes touched buckets to a NEW
  * base directory and repoints the manifest (MergeLakeCrashSpec kills
  * the writer between every step and asserts before-or-after, never
  * hybrid). Single concurrent writer assumed, like the reference's
  * store; readers racing a compaction's post-publish GC get a
  * retention horizon — by default the previous committed manifest and
  * everything it references stay on disk for one extra compaction
  * cycle (`GRAFT_MERGELAKE_RETAIN`, default 2; see
  * [[ManifestLog.retained]]).
  *
  * '''Exchange-free snapshot.''' The resolved read decomposes
  * last-writer-wins into `delta_resolved ∪ (base ⟕̸ delta_keys)`: the
  * base is key-unique by construction (init dedupes, compaction emits
  * one row per key), so the corpus-sized side is ONE map-only scan
  * anti-joined against the delta keys — broadcast when the delta is
  * small (the production increment regime; decided from file-size
  * metadata, no job) — and the only shuffle in the plan is the
  * Δ-sized last-writer-wins window over the deltas themselves. At
  * 100 TB that is the difference between O(Δ) and O(state) per
  * incremental read: the previous design windowed the whole
  * base ∪ delta union, one corpus-sized Exchange per uncompacted read
  * (the ~20 MB/1M-member term the resolve soak measured). A
  * larger-than-broadcast delta falls back to a shuffled anti-join —
  * that regime means compaction is overdue.
  *
  * Writes are append-only until [[compact]]; the resolve rule is
  * last-writer-wins per `stmt_id` (higher manifest position wins;
  * within one batch the tie breaks on (last_seen, value) descending,
  * deterministic on any engine — the reference's writer dedupes a
  * batch in a Set the same way).
  */
object MergeLake {

  val DefaultBuckets = 32

  /** The committed lake state a manifest file encodes. `bucketDirs`
    * maps each non-empty bucket to the root-relative base directory
    * that owns it; `deltas` is the ordered list of live delta
    * directories (position = seq for last-writer-wins).
    */
  private[graft] case class Manifest(version: Int, nBuckets: Int,
      bucketDirs: Map[Int, String], deltas: Seq[String],
      schemaJson: String = "", bucketCol: String = "stmt_id")

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  // ---- manifest codec ----------------------------------------------

  private def encode(m: Manifest): String = {
    val body = new StringBuilder("graft-mergelake 1\n")
    body ++= s"nbuckets ${m.nBuckets}\n"
    if (m.bucketCol != "stmt_id") body ++= s"bucketcol ${m.bucketCol}\n"
    if (m.schemaJson.nonEmpty)
      body ++= s"schema ${java.util.Base64.getEncoder.encodeToString(
        m.schemaJson.getBytes(StandardCharsets.UTF_8))}\n"
    m.bucketDirs.toSeq.sortBy(_._1).foreach { case (k, d) =>
      body ++= s"bucket $k $d\n" }
    m.deltas.foreach(d => body ++= s"delta $d\n")
    body.toString
  }

  private def decode(v: Int, text: String): Manifest = {
    var nBuckets = DefaultBuckets
    var schemaJson = ""
    var bucketCol = "stmt_id"
    val dirs = Map.newBuilder[Int, String]
    val deltas = Seq.newBuilder[String]
    text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split(' ') match {
        case Array("graft-mergelake", "1") => ()
        case Array("nbuckets", n) => nBuckets = n.toInt
        case Array("bucketcol", c) => bucketCol = c
        case Array("bucket", k, d) => dirs += (k.toInt -> d)
        case Array("delta", d) => deltas += d
        case Array("schema", b64) => schemaJson = new String(
          java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8)
        case other => sys.error(s"bad manifest line: ${other.mkString(" ")}")
      }
    }
    Manifest(v, nBuckets, dirs.result(), deltas.result(), schemaJson,
      bucketCol)
  }

  private val log = new ManifestLog[Manifest]("manifest", "MergeLake")(
    encode, decode)

  /** Version of the current committed manifest — the pin a caller-side
    * manifest records for later [[snapshot]] reads at this exact state.
    */
  def currentVersion(s: SparkSession, path: String): Int =
    readManifest(s, new Path(path)).version

  /** Number of live (uncompacted) delta directories — each one adds a
    * window leg to every [[snapshot]]; schedulers compare this against
    * their compaction threshold (manifest read only, no data touched).
    */
  def deltaCount(s: SparkSession, path: String): Int =
    readManifest(s, new Path(path)).deltas.size

  private[graft] def readManifest(s: SparkSession, root: Path): Manifest =
    log.read(s, root)

  /** Commit `m` as the next manifest version. */
  private def publish(s: SparkSession, root: Path, m: Manifest): Unit =
    log.commit(s, root, m.version + 1, m)

  // ---- writes ------------------------------------------------------

  /** Bucket column + one shuffle onto it before every write: without
    * it each of the writer's input partitions opens a file in every
    * bucket directory it touches (input-partitions × buckets tiny
    * files — the small-files problem that kills object-store listings
    * at scale, and measured 5.8 s to append 150 rows locally). The
    * shuffle is O(rows written); AQE sizes the task count to the
    * batch.
    */
  /** A null upsert key would hash to a null bucket, land as
    * `bucket=__HIVE_DEFAULT_PARTITION__`, and crash every later
    * manifest/bucket walk with a NumberFormatException (while the
    * snapshot anti-join silently never matched it) — fail fast with a
    * clear message instead, row-level so only batches that actually
    * contain a null pay the error path.
    *
    * `bucketCol` is the clustering column (default = the upsert key).
    * A different column — e.g. the ENTITY id of a statement lake, so
    * point reads by entity prune to one bucket — must be immutable per
    * key: every write of a given `stmt_id` must carry the same
    * `bucketCol` value, or last-writer-wins would straddle buckets and
    * compaction could resurrect superseded rows.
    */
  private def withBucket(df: DataFrame, nBuckets: Int,
      bucketCol: String): DataFrame =
    df.withColumn("bucket",
        when(col("stmt_id").isNull || col(bucketCol).isNull, raise_error(
          lit(s"MergeLake: null upsert key (stmt_id) or bucket column " +
            s"($bucketCol) in batch")))
          .otherwise(pmod(xxhash64(col(bucketCol)), lit(nBuckets))))
      .repartition(col("bucket"))

  /** Bucket ids a set of `bucketCol` values hashes to — the partition
    * pruning set for a point read ([[snapshot]]'s `buckets` argument).
    */
  def bucketsOf(s: SparkSession, path: String,
      values: Seq[String]): Seq[Int] = {
    val m = readManifest(s, new Path(path))
    import s.implicits._
    values.toDF("v")
      .select(pmod(xxhash64(col("v")), lit(m.nBuckets)).as("b"))
      .distinct().collect().map(_.getLong(0).toInt).toSeq.sorted
  }

  /** Within-batch last-writer-wins. Planned AFTER the bucket
    * repartition so the window's (bucket, stmt_id) clustering is
    * already satisfied (HashPartitioning(bucket) ⊆ the window keys) —
    * a sort, not a second Exchange.
    */
  private def dedupeBatch(bucketed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("bucket"), col("stmt_id"))
      .orderBy(col("last_seen").desc, col("value").desc)
    bucketed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  private def bucketsIn(f: FileSystem, dir: Path): Seq[Int] =
    f.listStatus(dir).map(_.getPath.getName)
      // only numeric bucket= names: a foreign partition dir (e.g. a
      // hand-placed __HIVE_DEFAULT_PARTITION__) must not crash the walk
      .collect { case n if n.startsWith("bucket=") &&
          n.stripPrefix("bucket=").nonEmpty &&
          n.stripPrefix("bucket=").forall(_.isDigit) =>
        n.stripPrefix("bucket=").toInt }.toSeq.sorted

  /** Initialize (or reset) the lake with a base corpus. The batch is
    * deduped to one row per key here — the base's key-uniqueness is
    * what lets [[snapshot]] skip the corpus-sized window.
    */
  def init(stmts: DataFrame, path: String,
      nBuckets: Int = DefaultBuckets, bucketBy: String = "stmt_id"): Unit = {
    val s = stmts.sparkSession
    val root = new Path(path)
    val f = fs(s, root)
    if (f.exists(root)) f.delete(root, true)
    val dir = s"base-${UUID.randomUUID()}"
    val bucketed = dedupeBatch(withBucket(stmts, nBuckets, bucketBy))
    bucketed
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(new Path(root, dir).toString)
    ManifestLog.onStep("init-written")
    // the schema rides in the manifest so an EMPTY init (day-0 of a
    // stream, zero merge edges yet) leaves a readable lake: an empty
    // partitioned write produces no bucket dirs and no parquet footers,
    // so without this every later snapshot would have nothing to infer
    // a frame from
    val owned = bucketsIn(f, new Path(root, dir)).map(_ -> dir).toMap
    publish(s, root,
      Manifest(0, nBuckets, owned, Seq.empty, bucketed.schema.json,
        bucketBy))
  }

  /** Append one increment — cost O(delta): no read of the base, no
    * rewrite, one partitioned write of the batch plus a manifest
    * commit. The batch is NOT deduped here; cross- and intra-batch
    * duplicates resolve in [[snapshot]]'s Δ-sized window. Returns the
    * batch's seq (position in the live delta list). The batch is
    * bucketed with the lake's own bucket count from its manifest.
    */
  def append(delta: DataFrame, path: String): Int = {
    val s = delta.sparkSession
    val root = new Path(path)
    val m = readManifest(s, root)
    val seq = m.deltas.size + 1
    val dir = f"delta-$seq%06d-${UUID.randomUUID()}"
    val bucketed = withBucket(delta, m.nBuckets, m.bucketCol)
    bucketed
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(new Path(root, dir).toString)
    ManifestLog.onStep("append-written")
    // empty-batch no-op: a zero-row partitioned write leaves no bucket
    // dirs and no parquet footers, so committing it would both add a
    // schema-less delta every later snapshot fails to read AND grow the
    // live-delta list for nothing (continuous callers — the loop's edge
    // lake — legitimately produce empty increments)
    val f = fs(s, root)
    if (bucketsIn(f, new Path(root, dir)).isEmpty) {
      f.delete(new Path(root, dir), true)
      return m.deltas.size
    }
    // backfill the schema line for lakes initialized before it existed
    val schemaJson =
      if (m.schemaJson.nonEmpty) m.schemaJson else bucketed.schema.json
    publish(s, root, m.copy(version = m.version, deltas = m.deltas :+ dir,
      schemaJson = schemaJson))
    seq
  }

  // ---- reads -------------------------------------------------------

  /** The key-unique base under a manifest: one scan per distinct base
    * generation, each pruned (partition-level, metadata only) to the
    * buckets that generation still owns.
    */
  private def readBase(s: SparkSession, root: Path, m: Manifest): DataFrame =
    m.bucketDirs.groupBy(_._2).toSeq.sortBy(_._1).map { case (dir, owned) =>
      val df = s.read.parquet(new Path(root, dir).toString)
      // a generation keeps superseded buckets on disk until GC; read
      // only the ones the manifest still points here
      if (owned.size == bucketsIn(fs(s, root), new Path(root, dir)).size) df
      else df.filter(col("bucket").isin(owned.keys.toSeq: _*))
    }.reduceOption(_ unionByName _).getOrElse {
      // zero owned buckets = the lake was initialized from an empty
      // frame; serve an empty base with the manifest-recorded schema
      require(m.schemaJson.nonEmpty,
        s"MergeLake $root has no base buckets and no recorded schema " +
          "(pre-schema manifest from an empty init) — re-init the lake")
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    }

  private def dirBytes(f: FileSystem, dir: Path): Long =
    f.getContentSummary(dir).getLength

  /** The resolved current state (merge-on-read). `buckets` restricts
    * the read to a bucket subset (partition pruning does the rest) —
    * the compaction path. See the class doc for the plan shape: with
    * no deltas this is a bare scan (zero Exchange); with deltas the
    * base side stays map-only behind a (broadcast) anti-join and only
    * delta rows shuffle.
    */
  def snapshot(s: SparkSession, path: String,
      buckets: Option[Seq[Int]] = None,
      version: Option[Int] = None): DataFrame = {
    val root = new Path(path)
    // pinned read: a caller whose own manifest references a specific
    // lake version (the blocker index) resolves THAT committed state,
    // not whatever a concurrent append published since
    val m = log.read(s, root, version)
    def scoped(df: DataFrame): DataFrame = buckets match {
      case Some(bs) => df.filter(col("bucket").isin(bs: _*))
      case None => df
    }
    val base = scoped(readBase(s, root, m))
    if (m.deltas.isEmpty) return base
    val deltas = m.deltas.zipWithIndex.map { case (dir, i) =>
      s.read.parquet(new Path(root, dir).toString)
        .withColumn("_seq", lit(i + 1))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("bucket"), col("stmt_id"))
      .orderBy(col("_seq").desc, col("last_seen").desc, col("value").desc)
    val deltaResolved = scoped(deltas)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_seq")
    // broadcast the delta keys when the delta files are small (file
    // metadata, no job): the base then never shuffles. Above the
    // broadcast threshold let Catalyst shuffle both sides — that
    // regime means compaction is overdue.
    val f = fs(s, root)
    val deltaBytes = m.deltas.map(d => dirBytes(f, new Path(root, d))).sum
    val raw = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val threshold =
      if (raw.trim.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    val keys = deltaResolved.select(col("stmt_id"))
    val kept =
      if (threshold > 0 && deltaBytes <= threshold)
        base.join(broadcast(keys), Seq("stmt_id"), "left_anti")
      else base.join(keys, Seq("stmt_id"), "left_anti")
    val order = base.columns.map(col).toSeq
    kept.select(order: _*).unionByName(deltaResolved.select(order: _*))
  }

  // ---- compaction --------------------------------------------------

  /** Fold the accumulated deltas into the base. Only the buckets the
    * deltas touched are resolved and rewritten (their ids are plain
    * directory names — no data read to discover them), into a NEW base
    * generation; untouched buckets keep their old generation pointers
    * and are never opened. The swap is the manifest commit; the old
    * generation stays readable until it, and directories no manifest
    * references are garbage-collected after publish.
    */
  def compact(s: SparkSession, path: String, maxGens: Int = 4): Seq[Int] = {
    val root = new Path(path)
    val m = readManifest(s, root)
    if (m.deltas.isEmpty) return Seq.empty
    val f = fs(s, root)
    val deltaTouched = m.deltas
      .flatMap(d => bucketsIn(f, new Path(root, d))).distinct.sorted
    // bound the base-GENERATION count: a partial fold re-owns only the
    // delta-touched buckets, so a long-lived lake whose deltas keep
    // missing some buckets accumulates one surviving generation — one
    // scan leg in every snapshot read — per fold (worst case
    // min(nBuckets, folds)). Once the count reaches `maxGens`, fold
    // the WHOLE key space back to a single generation; the full
    // rewrite is corpus-∝ but amortized over the maxGens partial folds
    // that earned it
    val touched =
      if (m.bucketDirs.values.toSet.size >= maxGens)
        (deltaTouched ++ m.bucketDirs.keys).distinct.sorted
      else deltaTouched
    val newDir = s"base-${UUID.randomUUID()}"
    snapshot(s, path, Some(touched))
      .repartition(col("bucket")) // one file set per bucket dir
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(new Path(root, newDir).toString)
    ManifestLog.onStep("compact-written")
    // re-read before publishing: appends that landed while we resolved
    // are NOT folded into newDir, so they must survive as deltas (they
    // are newer than everything folded — last-writer-wins order holds)
    val m2 = readManifest(s, root)
    val folded = m.deltas.toSet
    val owned = m2.bucketDirs ++ touched.map(_ -> newDir).toMap
    publish(s, root, m2.copy(bucketDirs = owned,
      deltas = m2.deltas.filterNot(folded)))
    ManifestLog.onStep("compact-published")
    gc(s, root)
    touched
  }

  /** Drop lake directories (and stale manifests) that no manifest
    * inside the retention horizon ([[ManifestLog.retained]]) references.
    * Only `base-*`/`delta-*`/`manifest-*` names are ever touched —
    * callers may keep their own markers in the root.
    */
  private def gc(s: SparkSession, root: Path): Unit =
    log.trim(s, root)(n => n.startsWith("base-") || n.startsWith("delta-"),
      m => m.bucketDirs.values ++ m.deltas)
}
