package graft.cli

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.resolver.Resolver
import graft.store.EntityStore
import graft.xref.Xref

/** spark-submit-able operational surface mirroring the reference CLI
  * (`cli.py:64-358`): `xref`, `apply`, `dedupe`, `sorted-aggregate`,
  * `match`. Each main is a thin wrapper over the library operators —
  * no logic lives here beyond argument plumbing and IO.
  *
  * Conventions: entity inputs ending in `.ijson`/`.json` are read as
  * line-delimited FtM entities; anything else is a statement-table
  * Parquet path. Outputs are Parquet for tables and text for ijson.
  *
  * Examples:
  * {{{
  *   spark-submit --class graft.cli.DedupeMain graft.jar \
  *     donations.ijson /out/deduped
  *   spark-submit --class graft.cli.XrefMain graft.jar \
  *     statements.parquet /out/xref --auto-threshold 0.7
  * }}}
  */
object CliArgs {
  /** (positionals, flags): flags are `--name value` pairs. */
  def parse(args: Array[String]): (List[String], Map[String, String]) = {
    val pos = List.newBuilder[String]
    var flags = Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        // a flag followed by another flag (or nothing) is boolean
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          flags += a.drop(2) -> args(i + 1)
          i += 2
        } else { flags += a.drop(2) -> "true"; i += 1 }
      } else { pos += a; i += 1 }
    }
    (pos.result(), flags)
  }

  /** The one SparkSession entry of every driver. A live active or
    * default session (a spec's shared one, a host application's) is
    * returned untouched — `getOrCreate` on it would overwrite its
    * runtime confs with this builder's. A session built here gets
    * single-node defaults, each overridden by a spark-submit (or
    * `-Dspark.*`) setting: master `local[$SPARK_GRAFT_CPUS]` (every
    * core when unset), one shuffle partition per core, UTC, no UI and
    * a bounded plan string.
    */
  def session(app: String): SparkSession =
    Seq(SparkSession.getActiveSession, SparkSession.getDefaultSession)
      .flatten.find(!_.sparkContext.isStopped).getOrElse {
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString)
        val b = SparkSession.builder().appName(s"graft-$app")
        Seq("spark.master" -> s"local[$cpus]",
          "spark.sql.shuffle.partitions" -> cpus,
          "spark.sql.session.timeZone" -> "UTC",
          "spark.ui.enabled" -> "false",
          "spark.sql.maxPlanStringLength" -> "65536")
          .filterNot { case (k, _) => sys.props.contains(k) }
          .foreach { case (k, v) => b.config(k, v) }
        val s = b.getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }

  def isIjson(path: String): Boolean =
    path.endsWith(".ijson") || path.endsWith(".json")

  /** Entities/statements input → the 14-column statement table. */
  def readStatements(s: SparkSession, path: String,
      dataset: String): DataFrame =
    if (isIjson(path))
      EntityStore.statements(EntityStore.readIjson(s, path), dataset)
    else s.read.parquet(path)

  def writeLines(lines: DataFrame, out: String): Unit =
    lines.coalesce(1).write.mode("overwrite").text(out)

  /** Id precedence for canonical selection: QID > NK- > raw
    * (`resolver/identifier.py:11-27`).
    */
  def idWeight(id: Column): Column =
    when(id.rlike("^Q[0-9]+$"), 3)
      .when(id.startsWith("NK-"), 2).otherwise(1)

  /** Canonicalize a full statement table through a (member, canonical)
    * map: rewrite `canonical_id` and entity-reference values
    * (`resolver/linker.py:91-133` apply_statement). The map broadcasts;
    * statements never shuffle.
    */
  def applyCanonical(stmts: DataFrame, cm: DataFrame): DataFrame = {
    val byId = broadcast(cm.select(col("member"),
      col("canonical").as("_new_cid")))
    val byVal = broadcast(cm.select(col("member").as("_vmember"),
      col("canonical").as("_new_val")))
    stmts
      .join(byId, stmts("canonical_id") === byId("member"), "left_outer")
      .withColumn("canonical_id",
        coalesce(col("_new_cid"), col("canonical_id")))
      .drop("member", "_new_cid")
      .join(byVal, col("prop_type") === "entity" &&
        col("value") === col("_vmember"), "left_outer")
      .withColumn("value", coalesce(col("_new_val"), col("value")))
      .drop("_vmember", "_new_val")
  }

  /** Positive edges → transitive canonical map. */
  def canonicalMapOf(edges: DataFrame): DataFrame = {
    val cc = Resolver.connectedComponents(edges.select("src", "dst"))
    Resolver.canonicalMap(cc, idWeight)
  }

  def xrefConfig(flags: Map[String, String]): Xref.Config =
    Xref.Config(
      limit = flags.get("limit").map(_.toInt).getOrElse(5000),
      discountInternal =
        flags.get("discount-internal").map(_.toDouble).getOrElse(0.7),
      autoThreshold = flags.get("auto-threshold").map(_.toDouble),
      algorithm = flags.getOrElse("algorithm",
        graft.matching.Algorithms.default.name))
}

/** `nk xref` (`cli.py:64-123`): score candidate pairs, split into
  * auto-merges and review suggestions. Writes `<out>/merges` and
  * `<out>/suggestions` Parquet.
  */
object XrefMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (in, out) = (pos.head, pos(1))
    val s = CliArgs.session("xref")
    import s.implicits._
    val stmts = CliArgs.readStatements(s, in,
      flags.getOrElse("dataset", "default"))
    val decided = Seq.empty[(String, String)].toDF("src", "dst")
    val (merges, suggestions) =
      Xref.run(s, stmts, decided, CliArgs.xrefConfig(flags))
    merges.write.mode("overwrite").parquet(s"$out/merges")
    suggestions.write.mode("overwrite").parquet(s"$out/suggestions")
    // the resolver edge log the reference's xref writes (`xref.py:
    // 138-153`): auto-merges decided positive, the rest suggested —
    // the input ReviewMain/DecideMain continue from
    import graft.resolver.ResolverOps
    val ts = flags.getOrElse("ts", java.time.Instant.now.toString)
    val empty = Seq.empty[(String, String, String, Double, String,
      String, String)].toDF("target", "source", "judgement", "score",
      "user", "created_at", "deleted_at")
    val withPos = ResolverOps.decide(empty,
      merges.withColumn("judgement", lit(ResolverOps.Positive))
        .select(col("src"), col("dst"), col("judgement"), col("score")),
      user = "xref", ts = ts)
    ResolverOps.suggest(withPos,
      suggestions.select(col("lid").as("src"), col("rid").as("dst"),
        col("score")), user = "xref", ts = ts)
      .write.mode("overwrite").parquet(s"$out/edges")
    println(s"[xref] wrote $out/merges, $out/suggestions and $out/edges")
  }
}

/** `nk apply-statements` (`cli.py:322-334`): canonicalize a statement
  * table through merge edges (from XrefMain's `merges` output or a
  * resolver edge dump). Writes the rewritten statement table.
  */
object ApplyMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (in, out) = (pos.head, pos(1))
    val s = CliArgs.session("apply")
    val stmts = CliArgs.readStatements(s, in,
      flags.getOrElse("dataset", "default"))
    val edges = s.read.parquet(flags("edges"))
    val cm = CliArgs.canonicalMapOf(edges)
    CliArgs.applyCanonical(stmts, cm)
      .write.mode("overwrite").parquet(out)
    println(s"[apply] wrote $out")
  }
}

/** `nk sorted-aggregate` (`cli.py:232-236`): group statements by
  * canonical id and emit one merged ijson entity per cluster.
  */
object SortedAggregateMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (in, out) = (pos.head, pos(1))
    val s = CliArgs.session("sorted-aggregate")
    val stmts = CliArgs.readStatements(s, in,
      flags.getOrElse("dataset", "default"))
    CliArgs.writeLines(
      EntityStore.toIjson(EntityStore.assemble(stmts)), out)
    println(s"[sorted-aggregate] wrote $out")
  }
}

/** `nk dedupe` (`cli.py:249-264`, batch form): the SURVEY §7.2 slice as
  * one shell command — xref auto-merge → connected components → apply →
  * assemble → ijson out.
  */
object DedupeMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (in, out) = (pos.head, pos(1))
    val s = CliArgs.session("dedupe")
    import s.implicits._
    val stmts = CliArgs.readStatements(s, in,
      flags.getOrElse("dataset", "default")).cache()
    val cfg = CliArgs.xrefConfig(flags ++ Map(
      "auto-threshold" -> flags.getOrElse("auto-threshold", "0.5"),
      "algorithm" -> flags.getOrElse("algorithm", "regression-v1")))
    val decided = Seq.empty[(String, String)].toDF("src", "dst")
    val merges = Xref.autoMerges(s, stmts, decided, cfg)
    val cm = CliArgs.canonicalMapOf(merges)
    val canonical = CliArgs.applyCanonical(stmts, cm)
    CliArgs.writeLines(
      EntityStore.toIjson(EntityStore.assemble(canonical)), out)
    println(s"[dedupe] wrote $out")
  }
}

/** `nk match` (`cli.py:279-298`): query entities against an indexed
  * entity file, emitting ranked candidates with scores.
  */
object MatchMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (query, index, out) = (pos.head, pos(1), pos(2))
    val s = CliArgs.session("match")
    val q = CliArgs.readStatements(s, query, "query")
    val m = CliArgs.readStatements(s, index, "index")
    val enricher = new graft.enrich.DatasetEnricher("match-index", m)
    enricher.matchCandidates(s, q,
        algorithm = flags.getOrElse("algorithm",
          graft.matching.Algorithms.default.name))
      .write.mode("overwrite").parquet(out)
    println(s"[match] wrote $out")
  }
}

/** `nk enrich` (`cli.py:300-321`): match entities against a mirrored
  * enrichment source and emit the matched candidates' expanded
  * statement table (candidates + one referenced hop). The mirror path
  * takes the place of the reference's enricher config; `--algorithm`
  * and `--cutoff` mirror the yente enricher knobs.
  */
object EnrichMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (entities, mirror, out) = (pos.head, pos(1), pos(2))
    val s = CliArgs.session("enrich")
    val q = CliArgs.readStatements(s, entities, "query")
    val m = CliArgs.readStatements(s, mirror, "mirror")
    val algorithm = flags.getOrElse("algorithm",
      graft.matching.Algorithms.default.name)
    val cutoff = flags.get("cutoff").map(_.toDouble)
    // `--config enrichers/foo.yml` drives instantiation from the
    // reference's enricher config shape (type/api/dataset/
    // strip_namespace/...); the explicit flags remain the config-less
    // path
    val enricher = flags.get("config") match {
      case Some(cfgPath) =>
        graft.enrich.EnricherConfigs.makeYente(
          graft.enrich.EnricherConfigs.load(cfgPath), m,
          algorithm = algorithm, cutoff = cutoff)
      case None => new graft.enrich.YenteEnricher(m,
        algorithm = algorithm, cutoff = cutoff)
    }
    val cands = enricher.matchEntities(s, q)
    cands.write.mode("overwrite").parquet(s"$out/candidates")
    enricher.expandNested(cands)
      .write.mode("overwrite").parquet(s"$out/statements")
    println(s"[enrich] wrote $out/candidates and $out/statements")
  }
}

/** `nk prune` (`cli.py:213-219`): drop resolver suggestions that a
  * canonical map has made redundant, keeping judgements.
  */
object PruneMain {
  def main(args: Array[String]): Unit = {
    val (pos, _) = CliArgs.parse(args)
    val (in, out) = (pos.head, pos(1))
    val s = CliArgs.session("prune")
    val edges = s.read.parquet(in)
    val positive = edges
      .filter(col("judgement") === graft.resolver.ResolverOps.Positive)
      .select(col("source").as("src"), col("target").as("dst"))
    graft.resolver.ResolverOps.prune(edges,
      CliArgs.canonicalMapOf(positive))
      .write.mode("overwrite").parquet(out)
    println(s"[prune] wrote $out")
  }
}

/** `nk dump-resolver` / `nk load-resolver` (`cli.py:337-351`): resolver
  * edge table ↔ line-oriented dump, round-trippable with the
  * reference's file format.
  */
object ResolverDumpMain {
  def main(args: Array[String]): Unit = {
    val (pos, _) = CliArgs.parse(args)
    val (in, out) = (pos.head, pos(1))
    val s = CliArgs.session("dump-resolver")
    CliArgs.writeLines(
      graft.resolver.ResolverOps.dump(s.read.parquet(in)), out)
    println(s"[dump-resolver] wrote $out")
  }
}

object ResolverLoadMain {
  def main(args: Array[String]): Unit = {
    val (pos, _) = CliArgs.parse(args)
    val (in, out) = (pos.head, pos(1))
    val s = CliArgs.session("load-resolver")
    graft.resolver.ResolverOps.load(
        s.read.text(in).withColumnRenamed("value", "line"))
      .write.mode("overwrite").parquet(out)
    println(s"[load-resolver] wrote $out")
  }
}

/** `nk make-sortable` (`cli.py:239-246`): entities re-emitted as
  * line-delimited ijson ordered by id, the form `sorted-aggregate`
  * consumes.
  */
object MakeSortableMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (in, out) = (pos.head, pos(1))
    val s = CliArgs.session("make-sortable")
    val stmts = CliArgs.readStatements(s, in,
      flags.getOrElse("dataset", "default"))
    CliArgs.writeLines(
      graft.store.EntityStore.toIjson(
        graft.store.EntityStore.assemble(stmts)).orderBy("line"), out)
    println(s"[make-sortable] wrote $out")
  }
}

/** `nk train-v1-matcher` / `train-erun-matcher` (`cli.py:266-276`):
  * judged pairs + entity file → scaler-folded logistic coefficients as
  * a JSON model (the cross-engine interchange format of
  * [[graft.matching.ModelIO]]).
  */
object TrainMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (pairsIn, entitiesIn, out) = (pos.head, pos(1), pos(2))
    val s = CliArgs.session("train")
    import graft.matching.{Algorithms, EntityMatch, ModelIO, Training}
    val algo = Algorithms.registry(
      flags.getOrElse("algorithm", Algorithms.dedupe.name))
    val stmts = CliArgs.readStatements(s, entitiesIn, "train")
    val views = EntityMatch.views(
      graft.store.EntityStore.assemble(stmts), stmts)
    val pairs = s.read.parquet(pairsIn)
    val frame = Training.trainingFrame(pairs, views, algo)
    val featCols = algo.features.map(f => s"f_${f.name}")
    val clean = Training.quarantine(frame, featCols)
    val (means, scales) = ModelIO.fitScaler(clean, featCols)
    val scaled = featCols.zipWithIndex.foldLeft(clean) {
      case (df, (c, i)) =>
        df.withColumn(c, (col(c) - means(i)) / scales(i))
    }
    val model = Training.trainLogistic(scaled, featCols,
      epochs = flags.get("epochs").map(_.toInt).getOrElse(200))
    val json = ModelIO.toJson(ModelIO.ScaledModel(algo.name,
      algo.features.map(_.name), means, scales, model.weights,
      model.intercept))
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[train] wrote $out")
  }
}

/** The interactive dedupe review served from files — the batch form of
  * `nk dedupe`'s TUI (`tui/dedupe.py:24-112`, SURVEY §7.4 risk 5):
  * exports the candidate queue and the side-by-side property
  * comparisons ([[graft.resolver.Review]]); a reviewer (or UI) edits a
  * decisions file; [[DecideMain]] applies it back onto the edge log.
  *
  * {{{
  *   spark-submit --class graft.cli.ReviewMain graft.jar \
  *     edges.parquet entities.ijson /out/review --limit 500
  * }}}
  * Writes `<out>/queue` (left_id, right_id, score, schemas) and
  * `<out>/comparisons` (per-prop values + similarity, display-ordered).
  */
object ReviewMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (edgesIn, entitiesIn, out) = (pos.head, pos(1), pos(2))
    val s = CliArgs.session("review")
    import graft.model.Ftm
    import graft.resolver.{Review, ResolverOps}
    val edges = s.read.parquet(edgesIn)
    val stmts = CliArgs.readStatements(s, entitiesIn,
      flags.getOrElse("dataset", "default"))
    val positive = ResolverOps.live(edges)
      .filter(col("judgement") === ResolverOps.Positive)
      .select(col("source").as("src"), col("target").as("dst"))
    val cm = CliArgs.canonicalMapOf(positive)
    val schemas = CliArgs.applyCanonical(stmts, cm)
      .groupBy(col("canonical_id").as("id"))
      .agg(min(col("schema")).as("schema"))
    val queue = Review.queue(edges, cm, schemas, Ftm.compatPairs)
    queue.write.mode("overwrite").parquet(s"$out/queue")
    val limit = flags.get("limit").map(_.toInt).getOrElse(1000)
    val top = queue.orderBy(col("score").desc, col("left_id"),
      col("right_id")).limit(limit)
    Review.comparison(top.select("left_id", "right_id"),
      CliArgs.applyCanonical(stmts, cm))
      .write.mode("overwrite").parquet(s"$out/comparisons")
    println(s"[review] wrote $out/queue and $out/comparisons")
  }
}

/** Batch judgement application — the TUI's decide/apply step
  * (`tui/util.py:25-37`): a decisions file (CSV with header
  * `src,dst,judgement[,score]`) is upserted into the resolver edge log
  * via [[graft.resolver.ResolverOps.decide]]; re-keying the store is
  * [[ApplyMain]]'s job, exactly like the reference's
  * `store.update(canonical)` follow-up.
  */
object DecideMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (edgesIn, decisionsIn, out) = (pos.head, pos(1), pos(2))
    val s = CliArgs.session("decide")
    import graft.resolver.ResolverOps
    val edges = s.read.parquet(edgesIn)
    val decisions = s.read.option("header", "true").csv(decisionsIn)
    val withScore =
      if (decisions.columns.contains("score"))
        decisions.withColumn("score", col("score").cast("double"))
      else decisions.withColumn("score",
        lit(null).cast("double"))
    ResolverOps.decide(edges,
      withScore.select(col("src"), col("dst"), col("judgement"),
        col("score")),
      user = flags.getOrElse("user", sys.props("user.name")),
      ts = flags.getOrElse("ts", java.time.Instant.now.toString))
      .write.mode("overwrite").parquet(out)
    println(s"[decide] wrote $out")
  }
}

/** Wikidata write-back proposals from files — the terminal step of the
  * reconcile loop (`tui/reconcile.py` confirm → `wikidata/propose.py` →
  * QuickStatements): resolved (entity_id, qid) pairs diff against the
  * parsed dump and unmatched entities become CREATE blocks; the output
  * is a `.qs` batch for the QuickStatements UI.
  *
  * {{{
  *   spark-submit --class graft.cli.ProposeMain graft.jar \
  *     entities.ijson snaks.parquet pairs.parquet /out/batch.qs \
  *     --retrieved 2024-06-01 --create-unmatched true
  * }}}
  */
object ProposeMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (entitiesIn, snaksIn, pairsIn, out) =
      (pos.head, pos(1), pos(2), pos(3))
    val s = CliArgs.session("propose")
    import graft.enrich.Propose
    val stmts = CliArgs.readStatements(s, entitiesIn,
      flags.getOrElse("dataset", "default"))
    val snaks = s.read.parquet(snaksIn)
    val pairsDf = s.read.parquet(pairsIn)
    val retrieved = flags.get("retrieved")
    val positions = flags.get("positions")
      .map(p => s.read.parquet(p))
      .getOrElse(s.emptyDataFrame
        .withColumn("entity_id", lit(null).cast("string"))
        .withColumn("pos_qid", lit(null).cast("string"))
        .withColumn("start", lit(null).cast("string"))
        .withColumn("end", lit(null).cast("string")))
    val enriched = Propose.enrich(pairsDf, stmts, snaks, positions,
      retrieved, flags.get("source-url"))
    val all =
      if (flags.get("create-unmatched").contains("true")) {
        val matched = pairsDf.select(col("entity_id")).distinct()
        val unmatchedStmts = stmts.join(broadcast(matched),
          stmts("entity_id") === matched("entity_id"), "left_anti")
        enriched.unionByName(
          Propose.create(unmatchedStmts, retrieved,
            flags.get("source-url")))
      } else enriched
    CliArgs.writeLines(
      all.orderBy(col("entity_id"), col("ord")).select(col("line")), out)
    println(s"[propose] wrote $out")
  }
}

/** Batch wikidata reconciliation from files — the headless form of the
  * reference's reconcile command (`wikidata/reconcile.py:282-342` via
  * `cli.py`): persons search the mirrored dump by name, the best
  * candidate above the threshold auto-merges into the resolver edge
  * log, linked persons emit enrich proposals (with store-walked P39
  * position claims) and the rest become CREATE blocks.
  *
  * {{{
  *   spark-submit --class graft.cli.ReconcileMain graft.jar \
  *     entities.ijson snaks.parquet /out \
  *     --threshold 0.9 --edges edges.parquet --retrieved 2024-06-01
  * }}}
  *
  * Writes `/out/decisions` + `/out/edges` (Parquet) and `/out/batch.qs`.
  */
object ReconcileMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val (entitiesIn, snaksIn, out) = (pos.head, pos(1), pos(2))
    val s = CliArgs.session("reconcile")
    import graft.enrich.Reconcile
    val stmts = CliArgs.readStatements(s, entitiesIn,
      flags.getOrElse("dataset", "default"))
    val snaks = s.read.parquet(snaksIn)
    val priorEdges = flags.get("edges").map(p => s.read.parquet(p))
    val canonicals = priorEdges
      .map(e => CliArgs.canonicalMapOf(
        e.filter(col("judgement") === graft.resolver.ResolverOps.Positive)
          .select(col("target").as("src"), col("source").as("dst")))
        .select(col("member"), col("canonical")))
      .getOrElse(s.emptyDataFrame
        .withColumn("member", lit(null).cast("string"))
        .withColumn("canonical", lit(null).cast("string")))
    val decided = priorEdges
      .map(_.filter(col("deleted_at").isNull &&
        col("judgement") =!= graft.resolver.ResolverOps.NoJudgement)
        .select(col("target").as("entity_id"), col("source").as("qid")))
      .getOrElse(s.emptyDataFrame
        .withColumn("entity_id", lit(null).cast("string"))
        .withColumn("qid", lit(null).cast("string")))
    val persons = stmts.filter(col("schema") === "Person")
    val candidates = flags.get("algorithm") match {
      case Some(alg) =>
        // matcher-scored path: blocker join + algorithm re-score
        Reconcile.rankCandidates(s, persons,
          graft.enrich.Wikidata.toStatementTable(
            graft.enrich.Wikidata.statements(snaks), "wikidata"), alg)
      case None => Reconcile.searchCandidates(persons, snaks)
    }
    val threshold = flags.get("threshold").map(_.toDouble)
      .getOrElse(Reconcile.Threshold)
    val (decisions, merges, commands) = Reconcile.reconcile(
      stmts, snaks, canonicals, decided, candidates, threshold,
      create = !flags.get("create").contains("false"),
      retrieved = flags.get("retrieved"),
      sourceUrl = flags.get("source-url"))
    decisions.write.mode("overwrite").parquet(s"$out/decisions")
    val ts = flags.getOrElse("ts", java.time.Instant.now.toString)
    merges.select(col("src").as("target"), col("dst").as("source"),
      lit(graft.resolver.ResolverOps.Positive).as("judgement"),
      col("score"), lit("reconcile").as("user"),
      lit(ts).as("created_at"),
      lit(null).cast("string").as("deleted_at"))
      .write.mode("overwrite").parquet(s"$out/edges")
    CliArgs.writeLines(commands.orderBy(col("entity_id"), col("ord"))
      .select(col("line")), s"$out/batch.qs")
    println(s"[reconcile] wrote $out/decisions, $out/edges, $out/batch.qs")
  }
}

/** `nk bench` (`cli.py:353-358`; harness `matching/bench.py:15-33`):
  * time N pair comparisons per scoring algorithm, cycling a fixed pair
  * list like the reference's `itertools.cycle`, and report total wall
  * time plus μs/call. Pairs come from a `(lid, rid)` Parquet when a
  * second positional is given, else consecutive views are paired
  * round-robin. Deliberately driver-side and single-threaded: this is
  * the per-pair comparator micro-bench (the irreducible inner loop the
  * distributed scorer runs per row), not a cluster job.
  *
  * {{{
  *   spark-submit --class graft.cli.BenchMatchersMain graft.jar \
  *     donations.ijson --algorithm logic-v1 --number 1000
  * }}}
  */
object BenchMatchersMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    val in = pos.head
    val n = flags.get("number").map(_.toInt).getOrElse(1000)
    val s = CliArgs.session("bench-matchers")
    import graft.matching.{Algorithms, EntityMatch, EntityView}
    val stmts = CliArgs.readStatements(s, in,
      flags.getOrElse("dataset", "default"))
    val views = EntityMatch.views(EntityStore.assemble(stmts), stmts)
    val vs = EntityMatch.collectViews(views,
      flags.get("limit").map(_.toInt).getOrElse(1000))
    require(vs.nonEmpty, s"no entities in $in")
    val pairs: IndexedSeq[(EntityView, EntityView)] = pos.lift(1) match {
      case Some(pairsPath) =>
        val byId = vs.map(v => v.id -> v).toMap
        s.read.parquet(pairsPath).select("lid", "rid").collect()
          .toIndexedSeq.flatMap { r =>
            for {
              a <- byId.get(r.getString(0))
              b <- byId.get(r.getString(1))
            } yield (a, b)
          }
      case None =>
        vs.indices.map(i => (vs(i), vs((i + 1) % vs.size))).toIndexedSeq
    }
    require(pairs.nonEmpty, "no comparable pairs")
    val algos = flags.get("algorithm") match {
      case Some(a) => Seq(Algorithms.registry.getOrElse(a,
        sys.error(s"no matcher named $a")))
      case None => Algorithms.registry.toSeq.sortBy(_._1).map(_._2)
    }
    for (algo <- algos) {
      var w = 0 // JIT warmup outside the timed window
      while (w < math.min(n, 200)) {
        val p = pairs(w % pairs.size); algo.score(p._1, p._2); w += 1
      }
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val p = pairs(i % pairs.size); algo.score(p._1, p._2); i += 1
      }
      val dt = System.nanoTime() - t0
      println(f"[bench] ${algo.name}%-16s n=$n%-6d " +
        f"total=${dt / 1e9}%.3f s  ${dt / 1e3 / n}%.1f us/call")
    }
  }
}

/** The name-comparator scoreboard (`contrib/name_bench/perf.py`):
  * accuracy + timing per comparator over the published cases.csv —
  * mean / p50 / p95 μs per call (median-of-N per case, warmup pass
  * first), precision / recall / F1 at the decision threshold, and the
  * slowest cases (long ORG names dominate — the alignment matrix is
  * parts²).
  *
  * {{{
  *   spark-submit --class graft.cli.NameBenchMain graft.jar \
  *     cases.csv --runs 10 --threshold 0.7 --comparator logic-v2
  * }}}
  */
object NameBenchMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    require(pos.nonEmpty, "usage: name-bench <cases.csv>")
    import graft.matching.NameBench
    val cases = NameBench.loadCases(pos.head)
    require(cases.nonEmpty, s"no cases in ${pos.head}")
    val runs = flags.get("runs").map(_.toInt).getOrElse(10)
    val threshold = flags.get("threshold").map(_.toDouble).getOrElse(0.7)
    val comps = flags.get("comparator") match {
      case Some(c) => NameBench.comparators.filter(_._1 == c)
      case None => NameBench.comparators
    }
    require(comps.nonEmpty, "unknown comparator")
    println(f"[name-bench] ${cases.size} cases, runs=$runs, " +
      f"threshold=$threshold")
    for (st <- NameBench.run(cases, comps, runs, threshold)) {
      println(f"[name-bench] ${st.name}%-14s mean=${st.meanUs}%8.1f us  " +
        f"p50=${st.p50Us}%7.1f  p95=${st.p95Us}%8.1f  " +
        f"total=${st.totalMs}%7.1f ms  P=${st.precision}%.3f " +
        f"R=${st.recall}%.3f F1=${st.f1}%.3f")
      st.slowest.foreach { case (c, us) =>
        println(f"[name-bench]   slow ${us}%9.1f us  [${c.schema}] " +
          s"'${c.name1}' vs '${c.name2}'")
      }
    }
  }
}

/** Index ingest: build and publish every stored-index lake artifact for
  * a data directory (blocker entries/TF, resolver score table, wikidata
  * snak table, trained IVF centroids, PQ codebook+codes, banded
  * near-dup corpus, winnow fingerprint tables, BPE merges). The 100 TB
  * pipeline runs this once when data lands; every query session after
  * that reads the artifacts instead of re-deriving them — the Spark
  * analogue of the reference's `load-statements`/index build steps
  * persisting tables inside its storage engine.
  *
  * {{{
  *   spark-submit --class graft.cli.IndexBuildMain graft.jar \
  *     /root/testdata/sf0.01 [--index-dir /lake/indexes]
  * }}}
  */
object IndexBuildMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    require(pos.nonEmpty, "usage: index-build <sfDir> [--index-dir DIR]" +
      " [--gc [--gc-age-hours H]]")
    flags.get("index-dir").foreach(sys.props.put("graft.index.dir", _))
    val s = CliArgs.session("index-build")
    val d = pos.head
    val t0 = System.nanoTime()
    graft.Caches.ensureAll(s, d)
    val sec = (System.nanoTime() - t0) / 1e9
    val out = java.nio.file.Paths.get(
      graft.IndexLake.root, graft.IndexLake.fingerprint(d))
    println(f"[index-build] $d -> $out in $sec%.1f s")
    // --gc: retire artifact generations from older engine builds /
    // regenerated dirs, keeping the fingerprint just built
    if (flags.contains("gc")) {
      val age = flags.get("gc-age-hours").map(_.toDouble).getOrElse(6.0)
      val gone = graft.IndexLake.gc(Set(graft.IndexLake.fingerprint(d)),
        (age * 3600 * 1000).toLong)
      println(s"[index-build] gc retired ${gone.size} stale generations")
    }
    s.stop()
  }
}

/** The persisted resolver state in lake form — the `decide` loop of
  * the reference run continuously (`resolver/resolver.py:353-401`):
  * initialize from a clustered edge list, fold approved judgement-edge
  * batches in O(affected members) via
  * [[graft.streaming.ResolveStream.applyBatch]], read back the current
  * components. The streaming twin attaches the same state dir to a
  * live edge stream.
  *
  * {{{
  *   resolve-state init  <edges.parquet> <stateDir>
  *   resolve-state add   <edges.parquet> <stateDir>  # O(affected)
  *   resolve-state state <stateDir> <out>            # (id, cluster)
  * }}}
  */
object ResolveStateMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    require(pos.nonEmpty, "usage: resolve-state <init|add|state> ...")
    val s = CliArgs.session("resolve-state")
    import graft.streaming.ResolveStream
    def edgesOf(path: String) =
      s.read.parquet(path).select(col("src"), col("dst"))
    pos.head match {
      case "init" =>
        ResolveStream.init(
          graft.resolver.Resolver.connectedComponents(edgesOf(pos(1))),
          pos(2))
        println(s"[resolve-state] initialized ${pos(2)}")
      case "add" =>
        ResolveStream.applyBatch(s, edgesOf(pos(1)), pos(2),
          seen = flags.getOrElse("ts", java.time.Instant.now.toString))
        println(s"[resolve-state] applied batch to ${pos(2)}")
      case "state" =>
        ResolveStream.state(s, pos(1)).write.mode("overwrite")
          .parquet(pos(2))
        println(s"[resolve-state] wrote ${pos(2)}")
      case other => sys.error(s"unknown resolve-state verb: $other")
    }
    // no s.stop(): the session is shared when driven from CliSpec, and
    // a standalone spark-submit run tears it down with the JVM
  }
}

/** `nk load` ingestion in lake form: maintain a statement lake with
  * the SQL store's upsert-on-id semantics (`store/sql.py:90-177`)
  * through the [[graft.store.MergeLake]] delta-append layout.
  *
  * {{{
  *   merge-lake init    <stmts.(parquet|ijson)> <lakeDir>
  *   merge-lake append  <delta.(parquet|ijson)> <lakeDir>   # O(delta)
  *   merge-lake compact <lakeDir>        # fold deltas, touched buckets
  *   merge-lake snapshot <lakeDir> <out> # resolved current state
  * }}}
  */
object MergeLakeMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    require(pos.nonEmpty,
      "usage: merge-lake <init|append|compact|snapshot> ...")
    val s = CliArgs.session("merge-lake")
    import graft.store.MergeLake
    def stmtsWithId(path: String): org.apache.spark.sql.DataFrame = {
      val df = CliArgs.readStatements(s, path,
        flags.getOrElse("dataset", "default"))
      // the upsert key: the statement id when present, else derived
      if (df.columns.contains("stmt_id")) df
      else if (df.columns.contains("id"))
        df.withColumnRenamed("id", "stmt_id")
      else df.withColumn("stmt_id", md5(concat_ws("|",
        df.columns.map(col).toSeq: _*)))
    }
    pos.head match {
      case "init" =>
        MergeLake.init(stmtsWithId(pos(1)), pos(2))
        println(s"[merge-lake] initialized ${pos(2)}")
      case "append" =>
        val seq = MergeLake.append(stmtsWithId(pos(1)), pos(2))
        println(s"[merge-lake] appended delta $seq to ${pos(2)}")
      case "compact" =>
        val touched = MergeLake.compact(s, pos(1))
        println(s"[merge-lake] compacted ${touched.size} buckets in ${pos(1)}")
      case "snapshot" =>
        MergeLake.snapshot(s, pos(1)).write.mode("overwrite")
          .parquet(pos(2))
        println(s"[merge-lake] wrote ${pos(2)}")
      case other => sys.error(s"unknown merge-lake verb: $other")
    }
    s.stop()
  }
}

/** The composed incremental loop as a continuous streaming driver —
  * the `loop-stream` CLI (r12): day-0 init from a statement corpus,
  * then every parquet file landing in `<incoming>` is one micro-batch
  * through the full production increment (MERGE ingest → blocker-index
  * fold → delta xref → incremental decide → Δ-scoped canonical apply;
  * [[graft.streaming.LoopStream]]).
  *
  * {{{
  *   loop-stream init <day0.(parquet|ijson)> <rootDir> [--auto-threshold 0.4]
  *   loop-stream run  <incomingDir> <rootDir> [--drain] [--auto-threshold 0.4]
  * }}}
  *
  * `--drain` processes everything currently in `<incoming>` and stops
  * (Trigger.AvailableNow — the batch-shaped load run); without it the
  * query tails the directory until killed.
  */
object LoopStreamMain {
  def main(args: Array[String]): Unit = {
    val (pos, flags) = CliArgs.parse(args)
    require(pos.size >= 3, "usage: loop-stream <init|run> <in> <root>")
    val s = CliArgs.session("loop-stream")
    import graft.streaming.LoopStream
    val cfg = CliArgs.xrefConfig(flags).copy(
      autoThreshold = Some(flags.get("auto-threshold")
        .map(_.toDouble).getOrElse(0.4)))
    val p = LoopStream.Paths(pos(2))
    pos.head match {
      case "init" =>
        val day0 = CliArgs.readStatements(s, pos(1),
            flags.getOrElse("dataset", "default"))
          .withColumn("stmt_id", col("id"))
        LoopStream.init(s, day0, p, cfg)
        println(s"[loop-stream] initialized ${pos(2)}")
      case "run" =>
        // schema from the lake the init committed — a file stream
        // cannot infer it
        val schema = graft.store.MergeLake.snapshot(s, p.lake)
          .drop("bucket").schema
        val incoming = s.readStream.schema(schema).parquet(pos(1))
        val writer = LoopStream.sink(incoming, p, cfg)
        val q = (if (flags.contains("drain"))
          writer.trigger(org.apache.spark.sql.streaming.Trigger
            .AvailableNow())
        else writer).start()
        q.awaitTermination()
        println(s"[loop-stream] drained ${pos(1)} into ${pos(2)}")
      case other => sys.error(s"unknown loop-stream verb: $other")
    }
  }
}
