package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.blocker.{BlockerIndex, EntityTokenizer}
import graft.cli.CliArgs
import graft.resolver.Resolver
import graft.store.{EntityStore, MergeLake, RefIndex}
import graft.xref.Xref

/** The COMPOSED incremental loop as ONE continuous streaming driver —
  * the shape a deployed nomenklatura pipeline actually runs:
  * statements arrive as micro-batches and each `foreachBatch` executes
  * the full production increment —
  *
  *  1. MERGE ingest     — [[MergeLake.append]], O(Δ)
  *  2. index folds      — [[BlockerIndex.refresh]], O(|Δ|·tokens), and
  *                        [[RefIndex.refresh]], O(|Δ|·refs)
  *  3. delta xref       — [[Xref.scoredDeltaPairs]] against everything
  *                        decided so far, O(|Δ|·postings)
  *  4. incremental decide — [[ResolveStream.applyBatch]],
  *                        O(affected members)
  *  5. Δ-scoped apply   — re-elect canonicals for the touched clusters
  *                        only, upsert ONLY their members' rewritten
  *                        statements (plus the batch's own) into the
  *                        canonical statement lake; the referrer
  *                        closure comes from the maintained inverted-
  *                        reference index (a pruned Δ-sized lookup —
  *                        r12 shipped this as a per-batch corpus scan)
  *  6. maintenance      — every lake the loop appends to self-compacts
  *                        on the [[BlockerIndex]] `compactEvery`
  *                        schedule, so snapshot read cost and live-dir
  *                        count stay FLAT over an unbounded run
  *
  * so a day's increment costs its own volume at every stage. The end
  * state (the canonical lake) is bit-equal to one from-scratch batch
  * run over the final corpus — LoopStreamSpec proves it on the
  * donations fixture, and Soak `loopstream` at N× replicas with the
  * same oracle.
  *
  * Exactly-once: foreachBatch is at-least-once on retry, and the sink
  * pins a persistent `checkpointLocation` under the loop root so batch
  * ids and file progress survive a process restart (without it Spark
  * hands foreachBatch a TEMP checkpoint and a restarted run re-lists
  * every file under recycled batch ids — colliding with committed
  * generations). Every stage is retry-idempotent — lake appends
  * resolve by last-writer-wins over identical replayed content, the
  * blocker-index fold skips an already-committed generation, the
  * ref-index re-syncs to an identical symmetric difference (empty),
  * the edge lake's upsert key is the pair itself, and a replayed
  * decide finds its edges intra-cluster and writes nothing.
  */
object LoopStream {

  /** On-disk layout of one loop deployment. */
  final case class Paths(root: String) {
    val lake = s"$root/lake"
    val state = s"$root/state"
    val index = s"$root/blkidx"
    val refIndex = s"$root/refidx"
    val canonical = s"$root/canonical"
    val edges = s"$root/edges"
    val checkpoint = s"$root/checkpoint"
  }

  /** Soak/test instrumentation: called with (stage, wall seconds) after
    * every stage of [[processBatch]]. Not part of the public surface.
    */
  private[graft] var stageHook: (String, Double) => Unit = (_, _) => ()

  private def staged[A](name: String)(f: => A): A = {
    val t = System.nanoTime()
    val a = f
    stageHook(name, (System.nanoTime() - t) / 1e9)
    a
  }

  private def tokenize(cfg: Xref.Config)(st: DataFrame): DataFrame =
    EntityTokenizer.entries(
      EntityStore.view(st, withExternal = cfg.external))

  /** Decided same-as edges live in their own MergeLake keyed on the
    * undirected pair string: append-only per batch (a replayed batch
    * re-asserts identical keys — a last-writer-wins no-op), compacted
    * on the same schedule as the data lakes, so the live file count
    * stays bounded where the r12 per-generation directory log grew one
    * dir per batch forever.
    */
  private def edgeRows(edges: DataFrame, gen: String): DataFrame =
    edges.select(
      concat_ws("|", col("src"), col("dst")).as("stmt_id"),
      col("src"), col("dst"),
      lit(gen).as("last_seen"), lit("").as("value"))

  private def decidedSoFar(s: SparkSession, p: Paths): DataFrame =
    MergeLake.snapshot(s, p.edges).select(col("src"), col("dst"))

  /** Land the batch's edges in the edge lake and hand back exactly this
    * generation's committed rows, re-read from parquet (lineage break —
    * the decide must not re-evaluate the xref subtree). Replay-stable:
    * a replayed batch appends a subset (or nothing — its pairs are
    * already decided, so the delta xref re-derives none of them) and
    * the `last_seen = gen` filter still returns the ORIGINAL edge set,
    * which the r12 per-gen overwrite silently dropped on replay.
    */
  private def writeEdges(s: SparkSession, p: Paths, gen: String,
      edges: DataFrame): DataFrame = {
    MergeLake.append(edgeRows(edges, gen), p.edges): Unit
    MergeLake.snapshot(s, p.edges).filter(col("last_seen") === gen)
      .select(col("src"), col("dst"))
  }

  /** Day 0: land and resolve the base corpus (the batch setup every
    * continuous deployment starts from). Builds the statement lake
    * (bucketed by entity for pruned slice reads), the blocker and
    * inverted-reference indexes, the resolver state from one full
    * xref, and the canonical lake.
    */
  def init(s: SparkSession, day0: DataFrame, p: Paths,
      cfg: Xref.Config): Unit = {
    val threshold = cfg.autoThreshold.getOrElse(sys.error(
      "LoopStream needs cfg.autoThreshold (the auto-merge gate)"))
    MergeLake.init(day0, p.lake, bucketBy = "canonical_id")
    val corpus = MergeLake.snapshot(s, p.lake).drop("bucket")
    BlockerIndex.init(corpus, p.index, tokenize(cfg))
    RefIndex.init(s, p.refIndex, p.lake)
    import s.implicits._
    val none = Seq.empty[(String, String)].toDF("src", "dst")
    val (m, _) = Xref.run(s, corpus, none, cfg)
    MergeLake.init(edgeRows(
      m.filter(col("score") > threshold).select(col("src"), col("dst")),
      "init"), p.edges)
    val edges0 = MergeLake.snapshot(s, p.edges)
      .select(col("src"), col("dst"))
    ResolveStream.init(Resolver.connectedComponents(edges0), p.state)
    val cm = Resolver.canonicalMap(
      ResolveStream.state(s, p.state), CliArgs.idWeight)
    // the canonical lake buckets by its UPSERT KEY, not by entity: a
    // later batch that flips a cluster's elected canonical rewrites
    // the same stmt_id with a DIFFERENT canonical_id, and MergeLake's
    // bucket column must be immutable per key or last-writer-wins
    // straddles buckets and compaction resurrects superseded rows
    // (r12 ADVICE). Nothing point-reads this lake by entity; consumers
    // are full-snapshot readers (export, sorted-aggregate).
    MergeLake.init(CliArgs.applyCanonical(corpus, cm), p.canonical)
  }

  /** One increment — the foreachBatch body, callable directly by a
    * batch driver too (the spec runs both and compares).
    * `maintainEvery` is the lake-compaction threshold (live delta
    * count) shared by every lake the loop appends to.
    */
  def processBatch(s: SparkSession, batch: DataFrame, gen: String,
      p: Paths, cfg: Xref.Config, maintainEvery: Int = 8): Unit = {
    if (batch.isEmpty) return
    val threshold = cfg.autoThreshold.get
    import s.implicits._

    // 1. MERGE ingest
    staged("merge")(MergeLake.append(batch, p.lake): Unit)
    val corpus = MergeLake.snapshot(s, p.lake).drop("bucket")

    // 2. index folds: blocker postings/stats (skip if a retried batch
    // already committed its generation) and the inverted-reference
    // postings (self-idempotent via its lake-version sync point)
    val touched = batch.select(col("canonical_id")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    staged("index") {
      if (!BlockerIndex.readManifest(s, p.index).statsDirs
          .contains(s"stats-$gen")) {
        val bs = MergeLake.bucketsOf(s, p.lake, touched)
        val slice = MergeLake.snapshot(s, p.lake, Some(bs))
          .join(broadcast(touched.toDF("cid")),
            col("canonical_id") === col("cid"), "left_semi")
          .drop("bucket")
        BlockerIndex.refresh(s, p.index, slice, touched, gen,
          tokenize(cfg), compactEvery = maintainEvery)
      }
      RefIndex.refresh(s, p.refIndex, p.lake, touched, gen)
    }

    // 3. delta xref against everything decided so far, through the
    // maintained TF view
    val tf = BlockerIndex.termFrequencies(s, p.index, Xref.compatDf(s),
      Xref.boostsDf(s), cfg.blocker,
      dampFields = EntityTokenizer.DampFields)
    val isDelta = col("id").isInCollection(touched)
    val edges = staged("xref")(writeEdges(s, p, gen,
      Xref.scoredDeltaPairs(s, corpus, decidedSoFar(s, p), isDelta, cfg,
          Some(tf))
        .filter(col("score") > threshold)
        .select(col("lid").as("src"), col("rid").as("dst"))))

    // 4. incremental decide
    staged("decide")(ResolveStream.applyBatch(s, edges, p.state, gen))

    // 5. Δ-scoped apply into the canonical lake. The write set is the
    // full closure a relabeling actually dirties — the touched
    // clusters' members, the batch's own entities, AND every entity
    // whose statements REFERENCE a relabeled member (their entity-ref
    // values must repoint to the new canonical; the lookup is a pruned
    // point read of the maintained inverted-reference index — Δ-sized,
    // where the r12 shape filtered the whole corpus every batch).
    // The canonical map must cover both the write set's own clusters
    // and the clusters of every entity the rewritten rows reference
    // (canonical election is per-cluster, so a referenced member pulls
    // its whole cluster into the map) — without the closure an upsert
    // would regress a day-0 rewrite back to a raw id.
    staged("apply")(graft.Caches.holding { held =>
      val st = ResolveStream.state(s, p.state)
      // the write-set clusters derive from the batch's TOUCHED entities,
      // not from `changed`: every cluster this batch's edges merged
      // contains a touched entity (delta edges always have a Δ
      // endpoint), so clusters-of-touched ⊇ changed-clusters — and
      // unlike `changed` (empty on a replay, whose edges are already
      // intra-cluster) it is REPLAY-STABLE: a batch whose decide
      // committed but whose apply crashed still rewrites the flipped
      // members when re-run
      val members0 = st.join(
        broadcast(st.join(broadcast(touched.toDF("tid")),
            st("id") === col("tid"), "left_semi")
          .select(col("cluster")).distinct()),
        Seq("cluster"), "left_semi")
      // referrers key on ALL members of the touched clusters, not just
      // the relabeled ids: a batch that merges into an existing cluster
      // relabels only the joiner, but the cluster's ELECTED CANONICAL
      // can flip — every statement referencing any member must repoint
      val referrers = RefIndex.referrers(s, p.refIndex,
          members0.select(col("id")))
        .select(col("referrer").as("eid")).distinct()
      // the write-id set and (below) the canonical map land as LITERAL
      // relations, not live subtrees: both are Δ-closure-sized by
      // construction (touched clusters' members + their referrers),
      // but as lineage they would EMBED the state/ref-index snapshot
      // derivation ~15× over in the appended plan — measured +~460
      // logical nodes PER BATCH on the canonical append (every later
      // read of the growing lakes re-enters the tree), which sent
      // AQE's per-stage plan traversals superlinear and the b3 apply
      // wall to 3-7× b0's at a constant data Δ. The collect is one
      // execution of the same plan the broadcast would have run.
      val writeIdSeq = members0.select(col("id").as("eid"))
        .unionByName(referrers).unionByName(touched.toDF("eid"))
        .distinct().collect().map(_.getString(0)).toIndexedSeq
      val writeIds = writeIdSeq.toDF("eid")
      val slice = held.pin(corpus.join(broadcast(writeIds),
        col("canonical_id") === col("eid"), "left_semi"))
      val refs = slice.filter(col("prop_type") === "entity")
        .select(col("value").as("eid")).distinct()
      val cmClusters = st.join(
        broadcast(writeIds.unionByName(refs).distinct()),
        st("id") === col("eid"), "left_semi")
        .select(col("cluster")).distinct()
      val cmMembers = st.join(broadcast(cmClusters), Seq("cluster"),
        "left_semi")
      val cm = Resolver.canonicalMap(cmMembers, CliArgs.idWeight)
        .collect().map(r => (r.getString(0), r.getString(1))).toIndexedSeq
        .toDF("member", "canonical")
      MergeLake.append(
        CliArgs.applyCanonical(slice, cm)
          .withColumn("last_seen", lit(gen)),
        p.canonical): Unit
    })

    // 6. scheduled maintenance: every lake this loop appends to folds
    // its deltas once the live count crosses the threshold (the
    // BlockerIndex compactEvery pattern — it already self-compacts
    // inside refresh above). Without this, each batch adds a window
    // leg to every snapshot read and a live directory to every
    // listing, forever. Compaction is crash-atomic (manifest-last), so
    // a crash mid-maintenance replays cleanly.
    staged("maintain") {
      Seq(p.lake, p.canonical, p.state, p.edges).foreach { path =>
        if (MergeLake.deltaCount(s, path) >= maintainEvery)
          MergeLake.compact(s, path): Unit
      }
      RefIndex.maintain(s, p.refIndex, maintainEvery)
    }
  }

  /** Attach the composed loop to a statement stream. The persistent
    * checkpoint under the loop root is load-bearing: stable batch ids
    * are what make every stage's generation-keyed idempotence hold
    * across process restarts.
    */
  def sink(stmts: DataFrame, p: Paths, cfg: Xref.Config,
      maintainEvery: Int = 8): DataStreamWriter[Row] =
    stmts.writeStream
      .outputMode("append")
      .option("checkpointLocation", p.checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, s"b$batchId", p, cfg,
          maintainEvery)
      }
}
