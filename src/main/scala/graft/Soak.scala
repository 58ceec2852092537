package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Record.Rec
import graft.store.{EntityStore, MergeLake, StarStatements}
import graft.xref.Xref

/** Scale soaks: each mode replicates a corpus N× and runs one pipeline
  * over it, returning one JSON record of its counts, per-section wall
  * times and shuffle volumes for PLANS.md.
  *
  *  - `xref` (the default) replicates the star corpus N× (identical
  *    values, suffixed ids — worst-case token duplication, every entity
  *    has N−1 duplicates) and runs the full xref pipeline under the
  *    REFERENCE blocker caps: the stopword cost cap must hold the pair
  *    join at a corpus 10× the bench without config changes.
  *  - `curate` replicates the document corpus N× with IDENTICAL texts
  *    and runs `CurateMain.run`; the exact-dedup stage must collapse the
  *    corpus back to ~1× before the near-dup stage ever sees it.
  *  - `dedup` appends a per-replica marker token instead — texts are
  *    near-identical but NOT byte-identical, so exact-dedup cannot
  *    collapse them and most replicas share minhash band keys. Without
  *    the r6 hot-bucket cap each shared bucket would emit k²/2 pairs
  *    (12.5M+ from one signature at 10×); the record reports how many
  *    buckets the cap dropped and the capped pair volume and wall.
  *  - `retrieval` (N× corpus, fixed standing queries, sparse and dense
  *    arms), `wd` (N× review batch against the 1× wikidata dump),
  *    `merge` and `resolve` (append / edge-fold wall against delta
  *    size).
  *  - `flow` (the reference README flow end to end, per stage) and
  *    `loopstream` (the composed incremental loop through the
  *    [[graft.streaming.LoopStream]] driver, per stage per batch, end
  *    state bit-equal to one from-scratch run) read the nomenklatura
  *    donations fixture at [[Fixture]] and fail before any Spark job
  *    when it is missing.
  *
  * [[run]] is the entry point: it runs one mode on a given session and
  * returns its record, removing its profiler listener and deleting its
  * scratch dir on the way out, so it may run on a shared session.
  * `main` prints that record and stops the session. An unknown mode
  * throws with the usage text.
  */
object Soak {
  val Usage: String =
    """usage: graft.Soak [sfDir] [replicas] [mode] [args], mode one of
      |  xref [maxPairCost]            (the default)
      |  curate | dedup | retrieval | wd | merge | resolve
      |  flow [threshold]
      |  loopstream [threshold] [batches]""".stripMargin

  /** The donations fixture `flow` and `loopstream` replicate. */
  private val Fixture = "/root/reference/tests/fixtures/donations.ijson"

  def main(args: Array[String]): Unit = {
    val spark = cli.CliArgs.session("soak")
    try println(run(spark, args)) finally spark.stop()
  }

  /** One soak's arguments, its profiler, its scratch dir and the frames
    * it holds until its record is built.
    */
  private final case class Soaking(spark: SparkSession, sfDir: String,
      replicas: Int, mode: String, args: Seq[String], prof: Profile,
      scratch: String, held: Caches.Held) {
    def head: Rec = ListMap("soak" -> mode, "sf" -> sfDir,
      "replicas" -> replicas)
    /** Whole-run shuffle volumes, corpus preparation included. */
    def shuffle: Rec = {
      val t = prof.total()
      ListMap("shuffle_write_mb" -> t.shuffleMb,
        "peak_stage_shuffle_mb" -> t.peakStageMb)
    }
  }

  /** Runs the soak mode `args(2)` names on `spark`; returns its record
    * line and leaves no frame persisted.
    */
  def run(spark: SparkSession, args: Array[String]): String = {
    val mode = args.lift(2).getOrElse("xref")
    val soak: Soaking => Rec = mode match {
      case "xref" => xrefSoak
      case "curate" => curate
      case "dedup" => dedup
      case "retrieval" => retrieval
      case "wd" => wd
      case "merge" => merge
      case "resolve" => resolve
      case "flow" => flow
      case "loopstream" => loopstream
      case _ =>
        throw new IllegalArgumentException(s"unknown soak mode '$mode'\n$Usage")
    }
    if (mode == "flow" || mode == "loopstream")
      require(new java.io.File(Fixture).isFile,
        s"soak mode $mode reads the donations fixture $Fixture, which is missing")
    val scratch = java.nio.file.Files.createTempDirectory(s"graft-$mode-soak")
    val prof = Profile.attach(spark)
    try Caches.holding(held => Record.json(soak(Soaking(spark,
      args.headOption.getOrElse("/root/testdata/sf0.1"),
      args.lift(1).map(_.toInt).getOrElse(10), mode, args.toSeq, prof,
      scratch.toString, held))))
    finally {
      spark.sparkContext.removeSparkListener(prof)
      org.apache.hadoop.fs.FileUtil.fullyDelete(scratch.toFile)
    }
  }

  private def curate(r: Soaking): Rec = {
    import r._
    val docs = held.persist(docCorpus(spark, sfDir, replicas, marker = false))
    val nDocs = docs.count()
    val ((report, nOut), l) = prof.timed {
      val (curated, report) =
        cli.CurateMain.run(spark, docs, minQuality = 0.3, minLogp = -12.0)
      (report, held.adopt(curated).count())
    }
    head ++ ListMap("docs" -> nDocs, "out" -> nOut,
      "report" -> report.fields, "wall_sec" -> l.wallSec,
      "cpu_sec" -> l.cpuS, "compiles" -> l.compiles,
      "compile_ms" -> l.compileMs) ++ shuffle
  }

  private def dedup(r: Soaking): Rec = {
    import r._
    import graft.dedup.{Dedup, DedupQueries}
    val docs = held.persist(docCorpus(spark, sfDir, replicas, marker = true))
    val nDocs = docs.count()
    val ((hotAgg, cand, verified), lsh) = prof.timed {
      val sh = DedupQueries.hashedShinglesOf(docs)
        .repartition(col("doc_id"))
      val sigs = sh.select(col("doc_id"), Dedup.minhashSigFromHashes(
        col("hs"), DedupQueries.MinhashK).as("sig"))
      val buckets = Dedup.lshBuckets(sigs, "doc_id",
        DedupQueries.Bands, DedupQueries.RowsPerBand)
      val hotAgg = buckets.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > Dedup.LshBucketCap)
        .agg(count(lit(1)).as("buckets"),
          sum(expr("n * (n - 1) div 2")).as("pairs")).head()
      (hotAgg, Dedup.lshCandidates(sigs, "doc_id",
        DedupQueries.Bands, DedupQueries.RowsPerBand).count(),
        held.adopt(DedupQueries.lshPairsOf(docs)).count())
    }
    // the exact-substring pass under the same boilerplate: nearly
    // every gram is duplicated 10×, but marking is a semi join —
    // rows stay corpus-linear no matter the duplication factor
    val (substrDocs, substr) =
      prof.timed(held.adopt(DedupQueries.substrOf(docs)).count())
    head ++ ListMap("docs" -> nDocs, "hot_buckets" -> hotAgg.getLong(0),
      // the pair volume those buckets would have emitted uncapped —
      // what the cap prevented (upper bound; candidate distinct would
      // collapse some across bands)
      "prevented_pairs" -> (if (hotAgg.isNullAt(1)) 0L else hotAgg.getLong(1)),
      "cand_pairs" -> cand, "verified_pairs" -> verified,
      "wall_sec" -> lsh.wallSec, "substr_docs" -> substrDocs,
      "substr_wall_sec" -> substr.wallSec) ++ shuffle
  }

  private def retrieval(r: Soaking): Rec = {
    import r._
    import graft.search.Search
    import graft.similarity.{Similarity, SimilarityQueries}
    // N× corpus, FIXED standing query workload — the serving shape:
    // retrieval work must be linear in the corpus when the query set
    // is bounded (the broadcast arms grow with queries, not corpus)
    val docs = held.persist(docCorpus(spark, sfDir, replicas, marker = true))
    val nDocs = docs.count()
    // the whole-retrieval wall holds laps of its own: read it off the
    // since-attach clock
    val t0 = prof.total().wallSec
    val ((postings, nPostings), build) = prof.timed {
      val p = held.cut(Search.postingsOf(docs))
      (p, p.count())
    }
    val (sparseRows, sparse) = prof.timed(
      Search.bm25Core(spark, postings, Search.QueryTerms).count())
    // dense arm: replicate embeddings alongside, queries stay the
    // BASE slice (vec_id < span), corpus grows N×
    val emb = Tables.embeddings(spark, sfDir)
    val eMax = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val corpusV = held.persist(replicate(emb, replicas)((e, i) =>
        e.withColumn("vec_id", col("vec_id") + lit(i * eMax)))
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v"))))
    val nVecs = corpusV.count()
    val queries = corpusV.filter(col("vec_id") < eMax &&
      col("vec_id") % SimilarityQueries.QueryMod === 0)
    val (denseRows, dense) = prof.timed(
      Similarity.bruteTopK(corpusV, queries, Search.HybridArmK).count())
    head ++ ListMap("docs" -> nDocs, "postings" -> nPostings,
      "build_wall_sec" -> build.wallSec,
      "sparse_rows" -> sparseRows, "sparse_wall_sec" -> sparse.wallSec,
      "vecs" -> nVecs, "dense_rows" -> denseRows,
      "dense_wall_sec" -> dense.wallSec,
      "wall_sec" -> (prof.total().wallSec - t0)) ++ shuffle
  }

  private def wd(r: Soaking): Rec = {
    import r._
    // N× REVIEW BATCH against the FIXED 1× dump — the wd family's
    // scale question is the opposite of the corpus soaks': its cost
    // at bench scale is almost entirely fixed scheduler overhead
    // (~10 sequential stages), so the claim to prove is that wall
    // time AMORTIZES as the batch grows (N× rows for ~1× wall), not
    // that caps bind. entity_ids get a replica suffix; qids stay
    // dump-valid (a bigger batch against the same mirror).
    import graft.enrich.{Propose, ProposeQueries, Reconcile,
      ReconcileQueries, Wikipedia, WikidataQueries, WikipediaQueries}
    def repl(df: DataFrame, cols: String*) = suffixed(df, replicas, cols: _*)
    val snaks = WikidataQueries.snakCk(spark, sfDir)
    val stmtsN = held.persist(repl(ProposeQueries.personStmtsCk(spark, sfDir),
      "entity_id", "canonical_id"))
    val nStmts = stmtsN.count()
    val pairsN = repl(ProposeQueries.pairs(spark, sfDir), "entity_id")
    val positionsN = repl(ProposeQueries.positions(spark, sfDir),
      "entity_id")
    val (nPropose, propose) = prof.timed(Propose.enrich(held)(pairsN, stmtsN,
      snaks, positionsN, retrieved = Some(ProposeQueries.Retrieved)).count())
    val recStmtsN = repl(EntityStore.statements(
      ReconcileQueries.reconPersons(spark, sfDir), "rec"),
      "entity_id", "canonical_id")
    val (nReconcile, reconcile) = prof.timed(Reconcile.decide(
      recStmtsN.select(col("entity_id")).distinct(),
      Reconcile.searchCandidates(recStmtsN, snaks),
      repl(Tables.customer(spark, sfDir)
        .filter(col("c_custkey") % 5 === 0)
        .select(concat(lit("w:"), col("c_custkey").cast("long")
          .cast("string")).as("entity_id"),
          concat(lit("Q"), (lit(100000) + col("c_custkey").cast("long"))
            .cast("string")).as("qid")), "entity_id"),
      spark.range(0).select(col("id").cast("string").as("entity_id"),
        col("id").cast("string").as("qid"))).count())
    val (nSummaries, summaries) = prof.timed(Wikipedia.summaries(pairsN,
      snaks, Wikipedia.preferredLangs(stmtsN),
      WikipediaQueries.summariesTbl(spark, sfDir)).count())
    head ++ ListMap("stmts" -> nStmts,
      "propose_rows" -> nPropose, "propose_wall_sec" -> propose.wallSec,
      "reconcile_rows" -> nReconcile,
      "reconcile_wall_sec" -> reconcile.wallSec,
      "summaries_rows" -> nSummaries,
      "summaries_wall_sec" -> summaries.wallSec) ++ shuffle
  }

  private def flow(r: Soaking): Rec = {
    import r._
    import spark.implicits._
    // The flagship README flow (reference README.md:20-32: xref →
    // dedupe decisions → apply → merged output), chained END TO END
    // as one run over the donations fixture replicated N×: ingest
    // (statement lake write) → xref → resolve → apply →
    // sorted-aggregate. Per-stage wall + shuffle (one profiler lap
    // per stage, its counts included) recorded for PLANS.md; nothing
    // may scale superlinearly in N.

    // -- ingest: fixture → statements ×N → bucketed statement lake
    val (nStmts, ingest) = prof.timed {
      donationsCorpus(spark, Fixture, replicas, held)
        .write.mode("overwrite").parquet(s"$scratch/lake")
      spark.read.parquet(s"$scratch/lake").count()
    }
    val lake = held.persist(spark.read.parquet(s"$scratch/lake"))
    lake.count()

    // -- xref under the reference caps scaled by N
    val decided = Seq.empty[(String, String)].toDF("src", "dst")
    // 0.5 default = the reference dedupe CLI's own auto threshold
    // (regression-v1 scores bare same-name pairs in the 0.5-0.7 band)
    val threshold = args.lift(3).map(_.toDouble).getOrElse(0.5)
    // limit scales with N like the pair-cost cap ("knobs that must
    // scale"): the reference default's scored cap (limit×10 = 50k)
    // truncates the N× duplication's true pair volume
    val cfg = Xref.Config(autoThreshold = Some(threshold),
      limit = 5000 * math.max(1, replicas / 10),
      blocker = scaledCaps(replicas))
    val ((merges, nMerges, nSuggest), xref) = prof.timed {
      val (m, sg) = Xref.run(spark, lake, decided, cfg)
      val merges = held.pin(held.adopt(m))
      (merges, merges.count(), sg.count())
    }

    // -- resolve: connected components over the merge edges
    val (cm, resolve) =
      prof.timed(held.pin(cli.CliArgs.canonicalMapOf(merges)))
    val nCanon = cm.count()

    // -- apply: canonicalize the lake through the map, write back
    val (nApplied, apply) = prof.timed {
      cli.CliArgs.applyCanonical(lake, cm)
        .write.mode("overwrite").parquet(s"$scratch/canonical")
      spark.read.parquet(s"$scratch/canonical").count()
    }

    // -- sorted-aggregate: one merged ijson entity per cluster
    val (nOut, agg) = prof.timed {
      EntityStore.toIjson(EntityStore.assemble(
        spark.read.parquet(s"$scratch/canonical"))).count()
    }

    def stage(name: String, l: Profile.Lap): Rec =
      ListMap(s"${name}_wall_sec" -> l.wallSec,
        s"${name}_shuffle_mb" -> l.shuffleMb)
    ListMap("soak" -> mode, "fixture" -> "donations",
      "replicas" -> replicas, "stmts" -> nStmts) ++ stage("ingest", ingest) ++
      stage("xref", xref) ++
      ListMap("merges" -> nMerges, "suggestions" -> nSuggest) ++
      stage("resolve", resolve) ++ ListMap("canonical_ids" -> nCanon) ++
      stage("apply", apply) ++ ListMap("applied_rows" -> nApplied) ++
      stage("agg", agg) ++ ListMap("entities_out" -> nOut)
  }

  private def merge(r: Soaking): Rec = {
    import r._
    // Increment-cost proof for the MergeLake writer: append wall must
    // track DELTA size (the upsert batch), never corpus size; the
    // occasional compaction is the amortized O(touched) cost and the
    // snapshot stays readable (merge-on-read) between compactions.
    val base0 = StarStatements(spark, sfDir)
      .withColumn("stmt_id", concat(col("id"), lit("#"), col("field")))
      .withColumn("num", split(col("id"), ":").getItem(1).cast("long"))
    val reps = held.persist(suffixed(base0, replicas, "stmt_id", "id")
      .withColumn("last_seen", lit("v1"))
      .select(col("stmt_id"), col("id"), col("schema"), col("field"),
        col("value"), col("last_seen"), col("num")))
    val nBase = reps.count()
    val path = s"$scratch/lake"
    val cols = Seq("stmt_id", "id", "schema", "field", "value",
      "last_seen").map(col)
    val (_, init) = prof.timed(MergeLake.init(reps.select(cols: _*), path))
    // three delta sizes, 16× apart: every 4096th/256th/16th statement
    // re-asserted with a bumped value
    val deltas = Seq(4096L, 256L, 16L).zipWithIndex.map {
      case (mod, i) =>
        val del = held.persist(reps.filter(col("num") % mod === 0)
          .withColumn("value", concat(col("value"), lit(s" u$i")))
          .withColumn("last_seen", lit(s"v${i + 2}"))
          .select(cols: _*))
        val n = del.count()
        val (_, l) = prof.timed(MergeLake.append(del, path))
        ListMap("rows" -> n, "append_wall_sec" -> l.wallSec)
    }
    val (nSnap, read) = prof.timed(MergeLake.snapshot(spark, path).count())
    val (touched, compact) = prof.timed(MergeLake.compact(spark, path))
    head ++ ListMap("base_rows" -> nBase, "init_wall_sec" -> init.wallSec,
      "deltas" -> deltas, "snapshot_rows" -> nSnap,
      "snapshot_wall_sec" -> read.wallSec,
      "compact_wall_sec" -> compact.wallSec,
      "touched_buckets" -> touched.size,
      "shuffle_write_mb" -> prof.total().shuffleMb)
  }

  private def resolve(r: Soaking): Rec = {
    import r._
    // Increment-cost proof for the persisted resolver state
    // (ResolveStream / Resolver.addEdgesChanged): fold three edge
    // batches 16× apart in size into a synthetic cluster graph of
    // replicas×100k vertices, then verify the final state equals ONE
    // full re-cluster of every edge. Per-batch wall and shuffle are
    // reported; the state-sized term is the merge-on-read snapshot
    // window (eliminated by a bucketed layout on a cluster — the
    // MergeLake scaladoc's point (a)), everything else is Δ-sized.
    import graft.resolver.Resolver
    import graft.streaming.ResolveStream
    val nVerts = replicas.toLong * 100000L
    def v(c: Column) = concat(lit("v"), c)
    // n/2 two-vertex clusters: (v0,v1)(v2,v3)...
    val baseEdges = held.persist(spark.range(nVerts / 2)
      .select(v(col("id") * 2).as("src"), v(col("id") * 2 + 1).as("dst")))
    val nEdges = baseEdges.count()
    val path = s"$scratch/state"
    val (_, init) = prof.timed(
      ResolveStream.init(Resolver.connectedComponents(baseEdges), path))
    // batch k: edges (v_{4i+1}, v_{4i+2}) for i % mod == k merge
    // adjacent pair-clusters into 4-cliques; disjoint slices per mod
    def bridges(keep: Column): DataFrame = spark.range(nVerts / 4)
      .filter(keep)
      .select(v(col("id") * 4 + 1).as("src"), v(col("id") * 4 + 2).as("dst"))
    val deltas = Seq(4096L, 256L, 16L).zipWithIndex.map {
      case (mod, k) =>
        val del = held.persist(bridges(col("id") % mod === k))
        val n = del.count()
        val (_, l) =
          prof.timed(ResolveStream.applyBatch(spark, del, path, s"b$k"))
        ListMap("edges" -> n, "apply_wall_sec" -> l.wallSec,
          "shuffle_mb" -> l.shuffleMb)
    }
    // equality vs one full re-cluster of the union edge set
    val (mismatches, full) = prof.timed {
      val want = Resolver.connectedComponents(baseEdges.unionByName(
        bridges(col("id") % 4096 === 0 || col("id") % 256 === 1 ||
          col("id") % 16 === 2)))
      ResolveStream.state(spark, path)
        .join(want.withColumnRenamed("cluster", "want"), Seq("id"), "full")
        .filter(col("cluster").isNull || col("want").isNull ||
          col("cluster") =!= col("want")).count()
    }
    ListMap("soak" -> mode, "replicas" -> replicas, "vertices" -> nVerts,
      "base_edges" -> nEdges, "init_wall_sec" -> init.wallSec,
      "deltas" -> deltas, "full_recluster_wall_sec" -> full.wallSec,
      "state_mismatches" -> mismatches)
  }

  private def loopstream(r: Soaking): Rec = {
    import r._
    import spark.implicits._
    // The composed loop through the ACTUAL STREAMING DRIVER at
    // corpus scale — LoopStreamSpec's oracle at donations×N: day-0
    // init, then the delta lands as parquet files in an incoming
    // directory and Trigger.AvailableNow drains them one micro-batch
    // per file through LoopStream.sink (persistent checkpoint,
    // foreachBatch, the full five-stage increment + scheduled lake
    // maintenance). Recorded per stage per batch: wall, shuffle
    // delta; per batch: live delta-dir count and snapshot wall of
    // the statement lake (the flatness claim — r13's maintenance
    // work is what keeps both bounded). End state must be bit-equal
    // to one from-scratch batch run over the final corpus.
    import graft.streaming.LoopStream
    def isDeltaId(c: Column) =
      c.endsWith("-r0") && pmod(xxhash64(c), lit(8)) === 0
    val rows = donationsCorpus(spark, Fixture, replicas, held)
      .withColumn("stmt_id", col("id"))
      .withColumn("last_seen", lit("d0"))
    val day0 = rows.filter(!isDeltaId(col("canonical_id")))
    val delta = rows.filter(isDeltaId(col("canonical_id")))
    val threshold = args.lift(3).map(_.toDouble).getOrElse(0.4)
    val batches = args.lift(4).map(_.toInt).getOrElse(4)
    // maintenance must actually trigger inside the run to prove the
    // flatness claim: threshold 2 with >= 4 batches crosses it twice
    val maintainEvery = 2
    val cfg = Xref.Config(autoThreshold = Some(threshold),
      limit = 400000, blocker = scaledCaps(replicas))
    val p = LoopStream.Paths(s"$scratch/loop")

    val (_, init) = prof.timed(LoopStream.init(spark, day0, p, cfg))

    // land the delta as ONE single-file parquet per micro-batch
    val incoming = s"$scratch/incoming"
    new java.io.File(incoming).mkdirs()
    def landBatch(k: Int): Unit = {
      val stage = s"$scratch/stage-$k"
      // salt the split hash: the delta-membership predicate already
      // fixes xxhash64(id) % 8 == 0, so splitting on the SAME hash
      // with a modulus sharing a factor of 8 would put everything in
      // batch 0 and leave the rest empty
      delta.filter(
          pmod(xxhash64(concat(col("canonical_id"), lit("#split"))),
            lit(batches)) === k)
        .withColumn("last_seen", lit(s"d${k + 1}"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$incoming/batch-$k.parquet"))
      Thread.sleep(1100) // distinct mtimes => deterministic file order
    }

    // per-stage instrumentation via the LoopStream hook: each stage's
    // shuffle is the profiler lap since the previous stage ended; the
    // drain starts a lap, so the landing writes and the init are
    // billed to no stage
    val stageLog = Vector.newBuilder[Rec]
    val schema = MergeLake.snapshot(spark, p.lake).drop("bucket").schema
    // TWO separate query starts against the SAME persistent
    // checkpoint: the first drains half the files and terminates
    // (AvailableNow), then the rest land and a NEW query instance
    // picks up — batch ids must CONTINUE (b2, b3, ...) rather than
    // recycle to b0, or the generation-keyed idempotence of every
    // stage breaks against the committed state (the r12 temp-
    // checkpoint bug: a restarted run re-listed every file under
    // batch id 0 and collided with committed generations). The
    // bit-equality oracle below catches any collision — a skipped
    // index fold or an overwritten edge generation diverges the
    // canonical lake.
    def drain(): Unit = {
      prof.lap()
      LoopStream.sink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(incoming),
        p, cfg, maintainEvery = maintainEvery)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    val firstLeg = batches / 2
    // the drain wall holds the per-stage laps: read it off the
    // since-attach clock
    val t0 = prof.total().wallSec
    LoopStream.stageHook = (stage, wall) => {
      val row = ListMap[String, Any]("stage" -> stage, "wall_sec" -> wall,
        "shuffle_mb" -> prof.lap().shuffleMb)
      stageLog += (if (stage != "maintain") row else {
        // end of a batch: record the statement lake's live delta
        // count and its resolved-snapshot wall (the flatness rows)
        val (dirs, read) = prof.timed {
          val n = MergeLake.deltaCount(spark, p.lake)
          MergeLake.snapshot(spark, p.lake).count(): Unit
          n
        }
        row ++ ListMap("live_deltas" -> dirs, "lake_read_sec" -> read.wallSec)
      })
    }
    try {
      (0 until firstLeg).foreach(landBatch)
      drain()
      (firstLeg until batches).foreach(landBatch)
      drain() // the restart leg
    } finally LoopStream.stageHook = (_, _) => ()
    val drainW = prof.total().wallSec - t0
    // restart proof: the committed batch ids in the ONE checkpoint
    // must be exactly 0..batches-1 (continuation, no recycling)
    val committedIds = new java.io.File(s"${p.checkpoint}/commits")
      .listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toInt).sorted.toSeq
    require(committedIds == (0 until batches),
      s"restarted stream recycled batch ids: $committedIds")

    // end-state oracle: one from-scratch batch run over the final
    // corpus (the LoopStreamSpec assertion at scale)
    val (mismatches, full) = prof.timed {
      val all =
        held.persist(MergeLake.snapshot(spark, p.lake).drop("bucket"))
      all.count()
      val none = Seq.empty[(String, String)].toDF("src", "dst")
      val (m, _) = Xref.run(spark, all, none, cfg)
      val cm = cli.CliArgs.canonicalMapOf(
        held.adopt(m).filter(col("score") > threshold)
          .select(col("src"), col("dst")))
      val want = cli.CliArgs.applyCanonical(all, cm)
        .select(col("id"), col("canonical_id"), col("prop"), col("value"))
      val got = MergeLake.snapshot(spark, p.canonical)
        .select(col("id"), col("canonical_id"), col("prop"), col("value"))
      got.exceptAll(want).count() + want.exceptAll(got).count()
    }

    ListMap("soak" -> mode, "fixture" -> "donations", "replicas" -> replicas,
      "batches" -> batches, "restart_after" -> firstLeg,
      "maintain_every" -> maintainEvery, "init_wall_sec" -> init.wallSec,
      "drain_wall_sec" -> drainW, "stages" -> stageLog.result(),
      "full_run_wall_sec" -> full.wallSec, "state_mismatches" -> mismatches)
  }

  private def xrefSoak(r: Soaking): Rec = {
    import r._
    import spark.implicits._
    val stmts = held.persist(corpus(spark, sfDir, replicas))
    val nStmts = stmts.count()
    val nEntities = stmts.select("canonical_id").distinct().count()
    val decided = Seq.empty[(String, String)].toDF("src", "dst")
    // Optional 4th arg: maxPairCost override. Under N× duplication
    // every token's document frequency is N× the base corpus, so the
    // reference cap (1770) correctly marks EVERY token a stopword and
    // yields zero pairs — the designed fail-safe. Scaling the cap
    // linearly with N (the "Knobs that must scale" rule) restores the
    // intended blocking behavior and exercises the real pair volume.
    val reference = graft.blocker.Blocker.Config.reference
    val blkCfg = args.lift(3).map(_.toLong)
      .fold(reference)(cap => reference.copy(maxPairCost = cap))
    val ((nMerges, nSuggest), l) = prof.timed {
      val (merges, suggestions) = Xref.run(spark, stmts, decided,
        Xref.Config(autoThreshold = Some(0.7), blocker = blkCfg))
      (held.adopt(merges).count(), suggestions.count())
    }
    head ++ ListMap("statements" -> nStmts, "entities" -> nEntities,
      "wall_sec" -> l.wallSec, "cpu_sec" -> l.cpuS, "compiles" -> l.compiles,
      "compile_ms" -> l.compileMs, "merges" -> nMerges,
      "suggestions" -> nSuggest) ++ shuffle
  }

  /** The reference blocker caps with the pair-cost cap scaled by N:
    * token df is N× by construction, and the unscaled cap correctly
    * stopwords everything.
    */
  private def scaledCaps(replicas: Int) = {
    val reference = graft.blocker.Blocker.Config.reference
    reference.copy(maxPairCost = reference.maxPairCost * replicas)
  }

  /** `n` copies of `df`, copy i rewritten by `f(df, i)`, unioned. */
  private def replicate(df: DataFrame, n: Int)(f: (DataFrame, Int) => DataFrame)
      : DataFrame =
    (0 until n).map(f(df, _)).reduce(_.unionByName(_))

  /** `n` copies of `df` unioned, copy i with `-r<i>` appended to each of
    * `cols`.
    */
  private def suffixed(df: DataFrame, n: Int, cols: String*): DataFrame =
    replicate(df, n)((d, i) => cols.foldLeft(d)((d, c) =>
      d.withColumn(c, concat(col(c), lit(s"-r$i")))))

  /** N replicas of the donations fixture as statements (474 entities
    * each, suffixed ids, entity refs re-pointed inside each replica —
    * every entity ends up with N−1 exact duplicates, the worst case
    * for the blocker). The fixture is parsed ONCE and pinned in `held`
    * — each of the N union legs otherwise re-runs the ijson parse
    * (measured 43 s → 9 s at 100×).
    */
  def donationsCorpus(s: SparkSession, fixture: String, replicas: Int,
      held: Caches.Held): DataFrame = {
    val base = held.pin(EntityStore.statements(
      EntityStore.readIjson(s, fixture), "donations"))
    replicate(base, replicas) { (b, i) =>
      val sfx = lit(s"-r$i")
      b.withColumn("canonical_id", concat(col("canonical_id"), sfx))
        .withColumn("entity_id", concat(col("entity_id"), sfx))
        .withColumn("value", when(col("prop_type") === "entity",
          concat(col("value"), sfx)).otherwise(col("value")))
        .withColumn("id", md5(concat_ws("|", col("canonical_id"),
          col("prop"), col("value"), sfx)))
    }
  }

  /** N replicas of the document corpus with distinct ids (the id span
    * is the corpus's own max id + 1, so replicas never collide). Without
    * `marker` the texts are IDENTICAL — every doc has N−1 exact
    * duplicates. With it, copy i's text gains a ` soakmarker<i>` token:
    * near-identical (most band signatures collide) but never
    * byte-identical (exact dedup cannot collapse them) — the
    * boilerplate worst case the hot-bucket cap exists for.
    */
  def docCorpus(s: SparkSession, sfDir: String, replicas: Int,
      marker: Boolean): DataFrame = {
    val base = Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val maxRow = base.agg(max(col("doc_id"))).head()
    val span = if (maxRow.isNullAt(0)) 1L else maxRow.getLong(0) + 1L
    replicate(base, replicas) { (b, i) =>
      val d = b.withColumn("doc_id", col("doc_id") + lit(i * span))
      if (marker) d.withColumn("text", concat(col("text"), lit(s" soakmarker$i")))
      else d
    }
  }

  /** N replicas of the star statement view widened to the full
    * statement-table shape, each replica its own dataset. Star schemas
    * map onto FtM matchable schemata so the production tokenizer (which
    * gates on the ontology) processes them.
    */
  def corpus(s: SparkSession, sfDir: String, replicas: Int): DataFrame = {
    val base = StarStatements(s, sfDir)
      .filter(col("field") === "name")
      .withColumn("schema",
        when(col("schema") === "Customer", "Person")
          .when(col("schema") === "Supplier", "Company")
          .otherwise("Organization"))
    replicate(base, replicas)((b, i) =>
      b.select(
        concat(col("id"), lit(s"-r$i")).as("canonical_id"),
        col("schema"),
        col("field").as("prop"),
        lit("name").as("prop_type"),
        col("value"),
        lit(s"soak$i").as("dataset"),
        lit(false).as("external")))
      .withColumn("entity_id", col("canonical_id"))
      .withColumn("id", md5(concat_ws("|", col("canonical_id"),
        col("prop"), col("value"))))
      .withColumn("original_value", lit(null).cast("string"))
      .withColumn("origin", lit(null).cast("string"))
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("first_seen", lit(null).cast("timestamp"))
      .withColumn("last_seen", lit(null).cast("timestamp"))
  }
}
