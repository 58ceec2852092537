package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.StarStatements
import graft.xref.Xref

/** Xref scale soak: replicate the star corpus N× (identical values,
  * suffixed ids — worst-case token duplication, every entity has N−1
  * duplicates) and run the full xref pipeline under the REFERENCE
  * blocker caps. Proves the stopword cost cap holds the pair join at a
  * corpus 10× the bench without config changes, and records wall time
  * plus total/peak shuffle volumes for PLANS.md.
  *
  * A second mode soaks the corpus-curation pipeline the same way:
  * `runMain graft.Soak <sfDir> <replicas> curate` replicates the
  * document corpus N× with IDENTICAL texts (worst-case duplication —
  * every document has N−1 exact copies) and runs `CurateMain.run`;
  * the exact-dedup stage must collapse the corpus back to ~1× before
  * the quadratic-ish near-dup stage ever sees it.
  *
  * A third mode soaks the batch near-dup screen under worst-case
  * boilerplate: `runMain graft.Soak <sfDir> <replicas> dedup`
  * replicates the corpus N× with a per-replica marker token appended —
  * texts are near-identical but NOT byte-identical, so exact-dedup
  * cannot collapse them and most replicas share minhash band keys.
  * Without the r6 hot-bucket cap each shared bucket would emit k²/2
  * pairs (12.5M+ from one signature at 10×); the soak reports how many
  * buckets the cap dropped and that the capped pipeline's pair volume
  * and wall time stay bounded.
  *
  * The other modes: `retrieval` (N× corpus, fixed standing queries,
  * sparse and dense arms), `wd` (N× review batch against the 1×
  * wikidata dump), `merge` and `resolve` (append / edge-fold wall
  * against delta size), `flow` (the reference README flow end to end,
  * per stage) and `loopstream` (the composed incremental loop through
  * the [[graft.streaming.LoopStream]] driver, per stage per batch, end
  * state bit-equal to one from-scratch run). `flow` and `loopstream`
  * read the nomenklatura donations fixture at
  * `/root/reference/tests/fixtures/donations.ijson`.
  *
  * Usage: runMain graft.Soak [sfDir] [replicas] [mode] [args], with
  * mode one of
  * {{{
  *   xref [maxPairCost]            (the default)
  *   curate | dedup | retrieval | wd | merge | resolve
  *   flow [threshold]
  *   loopstream [threshold] [batches]
  * }}}
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(10)
    val mode = args.lift(2).getOrElse("xref")
    val spark = cli.CliArgs.session("soak")
    // modes that report one whole-run total take a single lap at the
    // end; staged modes lap around each stage they report
    val prof = Profile.attach(spark)
    def shuffleJson(l: Profile.Lap): String =
      f""""shuffle_write_mb":${l.shuffleMb}%.1f,""" +
        f""""peak_stage_shuffle_mb":${l.peakStageMb}%.1f"""

    if (mode == "curate") {
      val docs = docCorpus(spark, sfDir, replicas)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nDocs = docs.count()
      val t0 = System.nanoTime()
      val (curated, report) =
        cli.CurateMain.run(spark, docs, minQuality = 0.3, minLogp = -12.0)
      val nOut = curated.count()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"""{"soak":"curate","sf":"$sfDir","replicas":$replicas,""" +
        f""""docs":$nDocs,"out":$nOut,"report":${report.json},""" +
        f""""wall_sec":$wall%.1f,""" +
        shuffleJson(prof.lap()) + "}")
      spark.stop()
      return
    }

    if (mode == "dedup") {
      import graft.dedup.{Dedup, DedupQueries}
      val docs = nearDupCorpus(spark, sfDir, replicas)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nDocs = docs.count()
      val t0 = System.nanoTime()
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
          sum(expr("n * (n - 1) div 2")).as("pairs")).head
      val hotBuckets = hotAgg.getLong(0)
      // the pair volume those buckets would have emitted uncapped —
      // what the cap prevented (upper bound; candidate distinct would
      // collapse some across bands)
      val preventedPairs = if (hotAgg.isNullAt(1)) 0L else hotAgg.getLong(1)
      val cand = Dedup.lshCandidates(sigs, "doc_id",
        DedupQueries.Bands, DedupQueries.RowsPerBand).count()
      val verified = DedupQueries.lshPairsOf(docs).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // the exact-substring pass under the same boilerplate: nearly
      // every gram is duplicated 10×, but marking is a semi join —
      // rows stay corpus-linear no matter the duplication factor
      val t1 = System.nanoTime()
      val substrDocs = DedupQueries.substrOf(docs).count()
      val substrWall = (System.nanoTime() - t1) / 1e9
      println(f"""{"soak":"dedup","sf":"$sfDir","replicas":$replicas,""" +
        f""""docs":$nDocs,"hot_buckets":$hotBuckets,""" +
        f""""prevented_pairs":$preventedPairs,""" +
        f""""cand_pairs":$cand,"verified_pairs":$verified,""" +
        f""""wall_sec":$wall%.1f,""" +
        f""""substr_docs":$substrDocs,"substr_wall_sec":$substrWall%.1f,""" +
        shuffleJson(prof.lap()) + "}")
      spark.stop()
      return
    }

    if (mode == "retrieval") {
      import graft.search.Search
      import graft.similarity.Similarity
      // N× corpus, FIXED standing query workload — the serving shape:
      // retrieval work must be linear in the corpus when the query set
      // is bounded (the broadcast arms grow with queries, not corpus)
      val docs = nearDupCorpus(spark, sfDir, replicas)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nDocs = docs.count()
      val t0 = System.nanoTime()
      val postings = Search.postingsOf(docs).localCheckpoint(true)
      val nPostings = postings.count()
      val buildWall = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val sparseRows = Search.bm25Core(spark, postings, Search.QueryTerms)
        .count()
      val sparseWall = (System.nanoTime() - t1) / 1e9
      // dense arm: replicate embeddings alongside, queries stay the
      // BASE slice (vec_id < span), corpus grows N×
      val emb = Tables.embeddings(spark, sfDir)
      val eMax = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
      val corpusV = (0 until replicas).map(i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i * eMax)))
        .reduce(_.unionByName(_))
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", Similarity.norm(col("v")))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nVecs = corpusV.count()
      val queries = corpusV.filter(col("vec_id") < eMax &&
        col("vec_id") % graft.similarity.SimilarityQueries.QueryMod === 0)
      val t2 = System.nanoTime()
      val dense = Similarity.bruteTopK(corpusV, queries, Search.HybridArmK)
        .select(col("qid"), col("vec_id").as("doc_id"), col("rn").as("drn"))
      val denseRows = dense.count()
      val denseWall = (System.nanoTime() - t2) / 1e9
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"""{"soak":"retrieval","sf":"$sfDir","replicas":$replicas,""" +
        f""""docs":$nDocs,"postings":$nPostings,""" +
        f""""build_wall_sec":$buildWall%.1f,""" +
        f""""sparse_rows":$sparseRows,"sparse_wall_sec":$sparseWall%.1f,""" +
        f""""vecs":$nVecs,"dense_rows":$denseRows,""" +
        f""""dense_wall_sec":$denseWall%.1f,"wall_sec":$wall%.1f,""" +
        shuffleJson(prof.lap()) + "}")
      spark.stop()
      return
    }

    if (mode == "wd") {
      // N× REVIEW BATCH against the FIXED 1× dump — the wd family's
      // scale question is the opposite of the corpus soaks': its cost
      // at bench scale is almost entirely fixed scheduler overhead
      // (~10 sequential stages), so the claim to prove is that wall
      // time AMORTIZES as the batch grows (N× rows for ~1× wall), not
      // that caps bind. entity_ids get a replica suffix; qids stay
      // dump-valid (a bigger batch against the same mirror).
      import graft.enrich.{Propose, ProposeQueries, Reconcile,
        Wikipedia, WikidataQueries, WikipediaQueries}
      import graft.store.EntityStore
      def repl(df: DataFrame, cols: Seq[String]): DataFrame =
        (0 until replicas).map { i =>
          cols.foldLeft(df)((d, c) =>
            d.withColumn(c, concat(col(c), lit(s"-r$i"))))
        }.reduce(_.unionByName(_))
      val snaks = WikidataQueries.snakCk(spark, sfDir)
      val stmtsN = repl(ProposeQueries.personStmtsCk(spark, sfDir),
        Seq("entity_id", "canonical_id"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nStmts = stmtsN.count()
      val pairsN = repl(ProposeQueries.pairs(spark, sfDir),
        Seq("entity_id"))
      val positionsN = repl(ProposeQueries.positions(spark, sfDir),
        Seq("entity_id"))
      val t0 = System.nanoTime()
      val nPropose = Propose.enrich(pairsN, stmtsN, snaks, positionsN,
        retrieved = Some(ProposeQueries.Retrieved)).count()
      val proposeWall = (System.nanoTime() - t0) / 1e9
      val recStmtsN = repl(EntityStore.statements(
        graft.enrich.ReconcileQueries.reconPersons(spark, sfDir), "rec"),
        Seq("entity_id", "canonical_id"))
      val t1 = System.nanoTime()
      val nReconcile = Reconcile.decide(
        recStmtsN.select(col("entity_id")).distinct(),
        Reconcile.searchCandidates(recStmtsN, snaks),
        repl(graft.Tables.customer(spark, sfDir)
          .filter(col("c_custkey") % 5 === 0)
          .select(concat(lit("w:"), col("c_custkey").cast("long")
            .cast("string")).as("entity_id"),
            concat(lit("Q"), (lit(100000) + col("c_custkey").cast("long"))
              .cast("string")).as("qid")), Seq("entity_id")),
        spark.range(0).select(col("id").cast("string").as("entity_id"),
          col("id").cast("string").as("qid"))).count()
      val reconcileWall = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val nSummaries = Wikipedia.summaries(pairsN, snaks,
        Wikipedia.preferredLangs(stmtsN),
        WikipediaQueries.summariesTbl(spark, sfDir)).count()
      val summariesWall = (System.nanoTime() - t2) / 1e9
      println(f"""{"soak":"wd","sf":"$sfDir","replicas":$replicas,""" +
        f""""stmts":$nStmts,""" +
        f""""propose_rows":$nPropose,"propose_wall_sec":$proposeWall%.1f,""" +
        f""""reconcile_rows":$nReconcile,"reconcile_wall_sec":$reconcileWall%.1f,""" +
        f""""summaries_rows":$nSummaries,"summaries_wall_sec":$summariesWall%.1f,""" +
        shuffleJson(prof.lap()) + "}")
      spark.stop()
      return
    }

    if (mode == "flow") {
      // The flagship README flow (reference README.md:20-32: xref →
      // dedupe decisions → apply → merged output), chained END TO END
      // as one run over the reference's own donations fixture
      // replicated N× (474 entities each, suffixed ids, entity refs
      // re-pointed inside each replica — every entity ends up with
      // N−1 exact duplicates, the worst case for the blocker):
      // ingest (statement lake write) → xref → resolve → apply →
      // sorted-aggregate. Per-stage wall + shuffle (one profiler lap
      // per stage, its counts included) recorded for PLANS.md; nothing
      // may scale superlinearly in N.
      import graft.store.EntityStore
      import graft.xref.Xref
      val scratch = java.nio.file.Files
        .createTempDirectory("graft-flow-soak").toString
      val fixture = "/root/reference/tests/fixtures/donations.ijson"

      // -- ingest: fixture → statements ×N → bucketed statement lake
      val (nStmts, ingest) = prof.timed {
        donationsCorpus(spark, fixture, replicas)
          .write.mode("overwrite").parquet(s"$scratch/lake")
        spark.read.parquet(s"$scratch/lake").count()
      }
      val lake = spark.read.parquet(s"$scratch/lake")
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      lake.count()

      // -- xref: reference caps scaled by N (token df is N× by
      // construction; the unscaled cap correctly stopwords everything)
      import spark.implicits._
      val decided = Seq.empty[(String, String)].toDF("src", "dst")
      // 0.5 default = the reference dedupe CLI's own auto threshold
      // (regression-v1 scores bare same-name pairs in the 0.5-0.7 band)
      val threshold = args.lift(3).map(_.toDouble).getOrElse(0.5)
      // limit scales with N like the pair-cost cap ("knobs that must
      // scale"): the reference default's scored cap (limit×10 = 50k)
      // truncates the N× duplication's true pair volume
      val cfg = Xref.Config(autoThreshold = Some(threshold),
        limit = 5000 * math.max(1, replicas / 10),
        blocker = graft.blocker.Blocker.Config.reference.copy(
          maxPairCost =
            graft.blocker.Blocker.Config.reference.maxPairCost * replicas))
      val ((merges, nMerges, nSuggest), xref) = prof.timed {
        val (m, sg) = Xref.run(spark, lake, decided, cfg)
        val merges = Caches.pin(m)
        (merges, merges.count(), sg.count())
      }

      // -- resolve: connected components over the merge edges
      val (cm, resolve) =
        prof.timed(Caches.pin(cli.CliArgs.canonicalMapOf(merges)))
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

      def stage(name: String, l: Profile.Lap): String =
        f""""${name}_wall_sec":${l.wallSec}%.1f,""" +
          f""""${name}_shuffle_mb":${l.shuffleMb}%.1f,"""
      println(f"""{"soak":"flow","fixture":"donations","replicas":$replicas,""" +
        f""""stmts":$nStmts,""" + stage("ingest", ingest) +
        stage("xref", xref) + f""""merges":$nMerges,"suggestions":$nSuggest,""" +
        stage("resolve", resolve) + f""""canonical_ids":$nCanon,""" +
        stage("apply", apply) + f""""applied_rows":$nApplied,""" +
        stage("agg", agg) + f""""entities_out":$nOut}""")
      spark.stop()
      return
    }

    if (mode == "merge") {
      // Increment-cost proof for the MergeLake writer: append wall must
      // track DELTA size (the upsert batch), never corpus size; the
      // occasional compaction is the amortized O(touched) cost and the
      // snapshot stays readable (merge-on-read) between compactions.
      import graft.store.MergeLake
      val base0 = StarStatements(spark, sfDir)
        .withColumn("stmt_id", concat(col("id"), lit("#"), col("field")))
        .withColumn("num", split(col("id"), ":").getItem(1).cast("long"))
      val reps = (0 until replicas).map { i =>
        base0.withColumn("stmt_id", concat(col("stmt_id"), lit(s"-r$i")))
          .withColumn("id", concat(col("id"), lit(s"-r$i")))
      }.reduce(_.unionByName(_))
        .withColumn("last_seen", lit("v1"))
        .select(col("stmt_id"), col("id"), col("schema"), col("field"),
          col("value"), col("last_seen"), col("num"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nBase = reps.count()
      val path = java.nio.file.Files
        .createTempDirectory("graft-merge-soak").toString + "/lake"
      val cols = Seq("stmt_id", "id", "schema", "field", "value",
        "last_seen").map(col)
      val t0 = System.nanoTime()
      MergeLake.init(reps.select(cols: _*), path)
      val initWall = (System.nanoTime() - t0) / 1e9
      // three delta sizes, 16× apart: every 4096th/256th/16th statement
      // re-asserted with a bumped value
      val deltas = Seq(4096L, 256L, 16L).zipWithIndex.map {
        case (mod, i) =>
          val del = reps.filter(col("num") % mod === 0)
            .withColumn("value", concat(col("value"), lit(s" u$i")))
            .withColumn("last_seen", lit(s"v${i + 2}"))
            .select(cols: _*)
            .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
          val n = del.count()
          val t = System.nanoTime()
          MergeLake.append(del, path)
          (n, (System.nanoTime() - t) / 1e9)
      }
      val tRead = System.nanoTime()
      val nSnap = MergeLake.snapshot(spark, path).count()
      val readWall = (System.nanoTime() - tRead) / 1e9
      val tC = System.nanoTime()
      val touched = MergeLake.compact(spark, path)
      val compactWall = (System.nanoTime() - tC) / 1e9
      val dJson = deltas.map { case (n, w) =>
        f"""{"rows":$n,"append_wall_sec":$w%.2f}""" }.mkString("[", ",", "]")
      println(f"""{"soak":"merge","sf":"$sfDir","replicas":$replicas,""" +
        f""""base_rows":$nBase,"init_wall_sec":$initWall%.1f,""" +
        f""""deltas":$dJson,"snapshot_rows":$nSnap,""" +
        f""""snapshot_wall_sec":$readWall%.2f,""" +
        f""""compact_wall_sec":$compactWall%.1f,""" +
        f""""touched_buckets":${touched.size},""" +
        f""""shuffle_write_mb":${prof.lap().shuffleMb}%.1f}""")
      spark.stop()
      return
    }

    if (mode == "resolve") {
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
      def v(c: org.apache.spark.sql.Column) = concat(lit("v"), c)
      // n/2 two-vertex clusters: (v0,v1)(v2,v3)...
      val baseEdges = spark.range(nVerts / 2)
        .select(v(col("id") * 2).as("src"), v(col("id") * 2 + 1).as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val nEdges = baseEdges.count()
      val path = java.nio.file.Files
        .createTempDirectory("graft-resolve-soak").toString + "/state"
      val t0 = System.nanoTime()
      ResolveStream.init(Resolver.connectedComponents(baseEdges), path)
      val initWall = (System.nanoTime() - t0) / 1e9
      // batch k: edges (v_{4i+1}, v_{4i+2}) for i % mod == k merge
      // adjacent pair-clusters into 4-cliques; disjoint slices per mod
      val deltas = Seq(4096L, 256L, 16L).zipWithIndex.map {
        case (mod, k) =>
          val del = spark.range(nVerts / 4)
            .filter(col("id") % mod === k)
            .select(v(col("id") * 4 + 1).as("src"),
              v(col("id") * 4 + 2).as("dst"))
            .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
          val n = del.count()
          val (_, l) =
            prof.timed(ResolveStream.applyBatch(spark, del, path, s"b$k"))
          (n, l.wallSec, l.shuffleMb)
      }
      // equality vs one full re-cluster of the union edge set
      val allEdges = baseEdges.unionByName(
        spark.range(nVerts / 4)
          .filter(col("id") % 4096 === 0 || col("id") % 256 === 1 ||
            col("id") % 16 === 2)
          .select(v(col("id") * 4 + 1).as("src"),
            v(col("id") * 4 + 2).as("dst")))
      val tF = System.nanoTime()
      val full = Resolver.connectedComponents(allEdges)
      val mismatches = ResolveStream.state(spark, path)
        .join(full.withColumnRenamed("cluster", "want"), Seq("id"), "full")
        .filter(col("cluster").isNull || col("want").isNull ||
          col("cluster") =!= col("want")).count()
      val fullWall = (System.nanoTime() - tF) / 1e9
      val dJson = deltas.map { case (n, w, sh) =>
        f"""{"edges":$n,"apply_wall_sec":$w%.2f,"shuffle_mb":$sh%.1f}""" }
        .mkString("[", ",", "]")
      println(f"""{"soak":"resolve","replicas":$replicas,""" +
        f""""vertices":$nVerts,"base_edges":$nEdges,""" +
        f""""init_wall_sec":$initWall%.1f,"deltas":$dJson,""" +
        f""""full_recluster_wall_sec":$fullWall%.1f,""" +
        f""""state_mismatches":$mismatches}""")
      spark.stop()
      return
    }

    if (mode == "loopstream") {
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
      import graft.store.MergeLake
      import graft.streaming.LoopStream
      import graft.xref.Xref
      import spark.implicits._
      val scratch = java.nio.file.Files
        .createTempDirectory("graft-loopstream-soak").toString
      val fixture = "/root/reference/tests/fixtures/donations.ijson"
      def isDeltaId(c: org.apache.spark.sql.Column) =
        c.endsWith("-r0") && pmod(xxhash64(c), lit(8)) === 0
      val rows = donationsCorpus(spark, fixture, replicas)
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
        limit = 400000,
        blocker = graft.blocker.Blocker.Config.reference.copy(
          maxPairCost = graft.blocker.Blocker.Config.reference
            .maxPairCost * replicas))
      val p = LoopStream.Paths(s"$scratch/loop")

      val (_, initW) = {
        val t = System.nanoTime()
        LoopStream.init(spark, day0, p, cfg)
        ((), (System.nanoTime() - t) / 1e9)
      }

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

      // per-stage instrumentation via the LoopStream hook
      val stageLog = scala.collection.mutable.ArrayBuffer
        .empty[(String, Double, Double, Int, Double)]
      // each stage's shuffle is the profiler lap since the previous
      // stage ended; the drain starts a lap, so the landing writes and
      // the init are billed to no stage
      LoopStream.stageHook = (stage, wall) => {
        val sh = prof.lap().shuffleMb
        if (stage == "maintain") {
          // end of a batch: record the statement lake's live delta
          // count and its resolved-snapshot wall (the flatness rows)
          val (dirs, read) = prof.timed {
            val n = MergeLake.deltaCount(spark, p.lake)
            MergeLake.snapshot(spark, p.lake).count(): Unit
            n
          }
          stageLog += ((stage, wall, sh, dirs, read.wallSec))
        } else stageLog += ((stage, wall, sh, -1, -1.0))
      }
      val schema = MergeLake.snapshot(spark, p.lake).drop("bucket").schema
      val t0 = System.nanoTime()
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
        val q = LoopStream.sink(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(incoming),
          p, cfg, maintainEvery = maintainEvery)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val firstLeg = batches / 2
      (0 until firstLeg).foreach(landBatch)
      drain()
      (firstLeg until batches).foreach(landBatch)
      drain() // the restart leg
      val drainW = (System.nanoTime() - t0) / 1e9
      LoopStream.stageHook = (_, _) => ()
      // restart proof: the committed batch ids in the ONE checkpoint
      // must be exactly 0..batches-1 (continuation, no recycling)
      val committedIds = new java.io.File(s"${p.checkpoint}/commits")
        .listFiles().map(_.getName).filter(_.forall(_.isDigit))
        .map(_.toInt).sorted.toSeq
      require(committedIds == (0 until batches),
        s"restarted stream recycled batch ids: $committedIds")

      // end-state oracle: one from-scratch batch run over the final
      // corpus (the LoopStreamSpec assertion at scale)
      val tF = System.nanoTime()
      val all = MergeLake.snapshot(spark, p.lake).drop("bucket")
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      all.count()
      val none = Seq.empty[(String, String)].toDF("src", "dst")
      val (m, _) = Xref.run(spark, all, none, cfg)
      val cm = cli.CliArgs.canonicalMapOf(
        m.filter(col("score") > threshold)
          .select(col("src"), col("dst")))
      val want = cli.CliArgs.applyCanonical(all, cm)
        .select(col("id"), col("canonical_id"), col("prop"), col("value"))
      val got = MergeLake.snapshot(spark, p.canonical)
        .select(col("id"), col("canonical_id"), col("prop"), col("value"))
      val mismatches = got.exceptAll(want).count() +
        want.exceptAll(got).count()
      val fullW = (System.nanoTime() - tF) / 1e9

      val stagesJson = stageLog.map { case (st, w, sh, dirs, readW) =>
        val extra = if (dirs >= 0)
          f""","live_deltas":$dirs,"lake_read_sec":$readW%.2f""" else ""
        f"""{"stage":"$st","wall_sec":$w%.2f,"shuffle_mb":$sh%.1f$extra}"""
      }.mkString("[", ",", "]")
      println(f"""{"soak":"loopstream","fixture":"donations","replicas":$replicas,""" +
        f""""batches":$batches,"restart_after":$firstLeg,""" +
        f""""maintain_every":$maintainEvery,""" +
        f""""init_wall_sec":$initW%.1f,"drain_wall_sec":$drainW%.1f,""" +
        f""""stages":$stagesJson,""" +
        f""""full_run_wall_sec":$fullW%.1f,""" +
        f""""state_mismatches":$mismatches}""")
      spark.stop()
      return
    }

    val stmts = corpus(spark, sfDir, replicas)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nStmts = stmts.count()
    val nEntities = stmts.select("canonical_id").distinct().count()

    import spark.implicits._
    val decided = Seq.empty[(String, String)].toDF("src", "dst")
    // Optional 4th arg: maxPairCost override. Under N× duplication
    // every token's document frequency is N× the base corpus, so the
    // reference cap (1770) correctly marks EVERY token a stopword and
    // yields zero pairs — the designed fail-safe. Scaling the cap
    // linearly with N (the "Knobs that must scale" rule) restores the
    // intended blocking behavior and exercises the real pair volume.
    val blkCfg = args.lift(3).map(_.toLong) match {
      case Some(cap) => graft.blocker.Blocker.Config.reference
        .copy(maxPairCost = cap)
      case None => graft.blocker.Blocker.Config.reference
    }
    val t0 = System.nanoTime()
    val (merges, suggestions) = Xref.run(spark, stmts, decided,
      Xref.Config(autoThreshold = Some(0.7), blocker = blkCfg))
    val nMerges = merges.count()
    val nSuggest = suggestions.count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"soak":"xref","sf":"$sfDir","replicas":$replicas,""" +
      f""""statements":$nStmts,"entities":$nEntities,""" +
      f""""wall_sec":$wall%.1f,"merges":$nMerges,""" +
      f""""suggestions":$nSuggest,""" +
      shuffleJson(prof.lap()) + "}")
    spark.stop()
  }

  /** N replicas of the donations fixture as statements (474 entities
    * each, suffixed ids, entity refs re-pointed inside each replica —
    * every entity ends up with N−1 exact duplicates, the worst case
    * for the blocker). The fixture is parsed ONCE and pinned — each of
    * the N union legs otherwise re-runs the ijson parse (measured
    * 43 s → 9 s at 100×).
    */
  def donationsCorpus(s: SparkSession, fixture: String,
      replicas: Int): DataFrame = {
    import graft.store.EntityStore
    val base = Caches.pin(EntityStore.statements(
      EntityStore.readIjson(s, fixture), "donations"))
    (0 until replicas).map { i =>
      val sfx = lit(s"-r$i")
      base
        .withColumn("canonical_id", concat(col("canonical_id"), sfx))
        .withColumn("entity_id", concat(col("entity_id"), sfx))
        .withColumn("value", when(col("prop_type") === "entity",
          concat(col("value"), sfx)).otherwise(col("value")))
        .withColumn("id", md5(concat_ws("|", col("canonical_id"),
          col("prop"), col("value"), sfx)))
    }.reduce(_.unionByName(_))
  }

  /** N replicas of the document corpus with distinct ids but IDENTICAL
    * texts — every doc has N−1 exact duplicates. The id span is derived
    * from the corpus's own max id so replicas can never collide.
    */
  def docCorpus(s: SparkSession, sfDir: String, replicas: Int): DataFrame = {
    val base = Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val maxRow = base.agg(max(col("doc_id"))).head
    val span = if (maxRow.isNullAt(0)) 1L else maxRow.getLong(0) + 1L
    (0 until replicas).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * span))
    }.reduce(_.unionByName(_))
  }

  /** N replicas with a per-replica marker token appended to every text:
    * near-identical (most band signatures collide) but never
    * byte-identical (exact dedup cannot collapse them) — the
    * boilerplate worst case the hot-bucket cap exists for.
    */
  def nearDupCorpus(s: SparkSession, sfDir: String,
      replicas: Int): DataFrame = {
    val base = Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val maxRow = base.agg(max(col("doc_id"))).head
    val span = if (maxRow.isNullAt(0)) 1L else maxRow.getLong(0) + 1L
    (0 until replicas).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * span))
        .withColumn("text", concat(col("text"), lit(s" soakmarker$i")))
    }.reduce(_.unionByName(_))
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
    val reps = (0 until replicas).map { i =>
      base.select(
        concat(col("id"), lit(s"-r$i")).as("canonical_id"),
        col("schema"),
        col("field").as("prop"),
        lit("name").as("prop_type"),
        col("value"),
        lit(s"soak$i").as("dataset"),
        lit(false).as("external"))
    }
    reps.reduce(_.unionByName(_))
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
