package graft.cli

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.resolver.ResolverOps
import graft.store.{EntityStore, MergeLake, StatementFormats}
import graft.xref.Xref

/** `nk` — the one command-line entry point, mirroring the reference's
  * command group (`cli.py:64-358`). Every verb is one entry of
  * [[Table]]: its name (two words for a sub-verb such as
  * `merge-lake compact`), its positionals (`[x]` is optional), its
  * flags (`name VALUE` takes a value, a bare `name` is a switch), a
  * one-line help and its body. [[run]] checks the arguments against
  * the entry before any Spark job, runs the body on the given session,
  * releases what the body held and returns its report. `main` builds
  * the session only when a body first uses it, so `name-bench`,
  * `bench-checks` and `lexicon-bench` never start one.
  *
  * Entity inputs ending in `.ijson`/`.json` are read as line-delimited
  * FtM entities, `.csv` as a statement CSV; anything else is a
  * statement-table Parquet path. Outputs are Parquet for tables (a
  * statement CSV for an `apply` output ending in `.csv`) and text for
  * ijson.
  *
  * {{{
  *   spark-submit --class graft.cli.Nk graft.jar dedupe \
  *     donations.ijson /out/deduped
  *   spark-submit --class graft.cli.Nk graft.jar xref \
  *     statements.parquet /out/xref --auto-threshold 0.7
  *   spark-submit --class graft.cli.Nk graft.jar review \
  *     edges.parquet entities.ijson /out/review --limit 500
  *   spark-submit --class graft.cli.Nk graft.jar index-build \
  *     /data/sf0.01 --index-dir /lake/indexes
  *   spark-submit --class graft.cli.Nk graft.jar curate \
  *     documents.parquet /out/curated --min-quality 0.3 --min-logp -12
  *   spark-submit --class graft.cli.Nk graft.jar --help
  * }}}
  */
object Nk {

  /** One verb of the table. */
  final case class Cmd(name: String, positionals: String,
      flags: Seq[String], help: String)(val body: Call => String) {
    val words: List[String] = name.split(' ').toList
    private val slots = positionals.split(' ').filter(_.nonEmpty)
    private val required = slots.count(!_.startsWith("["))
    private val (withValue, switches) = flags.toSet.partition(_.contains(' '))
    private val valued = withValue.map(_.takeWhile(_ != ' '))

    def usage: String =
      (name +: slots ++: flags.map(f => s"[--$f]")).mkString(" ")

    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"$why\nusage: nk $usage")

    /** The arguments after the verb's words → one checked call. */
    def parse(args: List[String], session: => SparkSession): Call = {
      @tailrec def go(rest: List[String], pos: Vector[String],
          fl: Map[String, String]): Call = rest match {
        case Nil =>
          if (pos.size < required || pos.size > slots.length)
            fail(s"$name takes ${slots.length} positionals " +
              s"($required required), got ${pos.size}")
          new Call(this, session, pos, fl)
        case f :: more if f.startsWith("--") => f.drop(2) match {
          case s if switches(s) => go(more, pos, fl + (s -> "true"))
          case v if valued(v) => more match {
            case x :: tail if !x.startsWith("--") =>
              go(tail, pos, fl + (v -> x))
            case _ => fail(s"--$v needs a value")
          }
          case other => fail(s"$name has no flag --$other")
        }
        case p :: more => go(more, pos :+ p, fl)
      }
      go(args, Vector.empty, Map.empty)
    }
  }

  /** One checked invocation: its positionals and flags, the session
    * (built on first use) and the frames the body holds until [[run]]
    * returns.
    */
  final class Call(val cmd: Cmd, session: => SparkSession,
      val pos: IndexedSeq[String], val flags: Map[String, String]) {
    lazy val spark: SparkSession = session
    val held = new graft.Caches.Held
    def flag(name: String, default: => String): String =
      flags.getOrElse(name, default)
    /** A flag the verb cannot run without. */
    def apply(name: String): String =
      flag(name, cmd.fail(s"${cmd.name} needs --$name"))
    def parquet(path: String): DataFrame = spark.read.parquet(path)
    def stmts(path: String): DataFrame =
      CliArgs.readStatements(spark, path, flag("dataset", "default"))
    /** `--ts`, else the current instant. */
    def now: String = flag("ts", java.time.Instant.now.toString)
  }

  def main(args: Array[String]): Unit = {
    lazy val spark = CliArgs.session(args.headOption.getOrElse("nk"))
    var started = false
    try println(run({ started = true; spark }, args))
    finally if (started) spark.stop()
  }

  /** Runs the verb `args` names on `spark`; returns its report. No
    * arguments or `--help` returns the usage.
    */
  def run(spark: => SparkSession, args: Array[String]): String =
    if (args.isEmpty || args.sameElements(Seq("--help"))) Usage
    else {
      val call = parse(args, spark)
      try call.cmd.body(call) finally call.held.release()
    }

  /** The verb `args` names, its arguments checked against the table. */
  def parse(args: Array[String], spark: => SparkSession): Call = {
    val a = args.toList
    val cmd = Table.filter(c => a.startsWith(c.words))
      .maxByOption(_.words.size).getOrElse {
        val group = Table.filter(c => a.headOption.contains(c.words.head))
        throw new IllegalArgumentException(
          s"unknown verb '${a.mkString(" ")}'\n" + (if (group.isEmpty) Usage
          else group.map(_.usage).mkString("usage: nk ", "\n       nk ", "")))
      }
    cmd.parse(a.drop(cmd.words.size), spark)
  }

  private def save(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").parquet(out)

  private def writeLines(lines: DataFrame, out: String): Unit =
    lines.coalesce(1).write.mode("overwrite").text(out)

  private def defaultAlgorithm = graft.matching.Algorithms.default.name

  private val XrefFlags = Seq("limit N", "discount-internal X",
    "auto-threshold X", "algorithm NAME")

  /** `loop-stream`'s xref config: auto-merge at 0.4 unless given. */
  private def loopConfig(c: Call): Xref.Config =
    CliArgs.xrefConfig(c.flags).copy(
      autoThreshold = Some(c.flag("auto-threshold", "0.4").toDouble))

  /** Minimal streamed-statement schema of `watch-match`: the fields the
    * tokenizer reads.
    */
  private val StreamSchema: StructType = StructType(Seq(
    "entity_id", "schema", "prop", "prop_type", "value")
    .map(StructField(_, StringType)))

  /** A `merge-lake` input with its upsert key: the statement id when
    * present, else derived.
    */
  private def stmtsWithId(c: Call, path: String): DataFrame = {
    val df = c.stmts(path)
    if (df.columns.contains("stmt_id")) df
    else if (df.columns.contains("id")) df.withColumnRenamed("id", "stmt_id")
    else df.withColumn("stmt_id",
      md5(concat_ws("|", df.columns.map(col).toSeq: _*)))
  }

  private def emptyFrame(s: SparkSession, cols: String*): DataFrame =
    cols.foldLeft(s.emptyDataFrame)(
      (df, c) => df.withColumn(c, lit(null).cast("string")))

  private def ordered(lines: DataFrame): DataFrame =
    lines.orderBy(col("entity_id"), col("ord")).select(col("line"))

  val Table: Seq[Cmd] = Seq(
    // `cli.py:64-123`; the edge log is the reference's (`xref.py:
    // 138-153`): auto-merges decided positive, the rest suggested, the
    // input `review` and `decide` continue from
    Cmd("xref", "<statements> <out>", "dataset NAME" +: XrefFlags :+ "ts TIME",
        "score pairs into <out>/merges, <out>/suggestions, <out>/edges") { c =>
      val Seq(in, out) = c.pos
      import c.spark.implicits._
      val decided = Seq.empty[(String, String)].toDF("src", "dst")
      val (merges, suggestions) =
        Xref.run(c.spark, c.stmts(in), decided, CliArgs.xrefConfig(c.flags))
      save(merges, s"$out/merges")
      save(suggestions, s"$out/suggestions")
      val ts = c.now
      val empty = Seq.empty[(String, String, String, Double, String,
        String, String)].toDF("target", "source", "judgement", "score",
        "user", "created_at", "deleted_at")
      val withPos = ResolverOps.decide(empty,
        merges.withColumn("judgement", lit(ResolverOps.Positive))
          .select(col("src"), col("dst"), col("judgement"), col("score")),
        user = "xref", ts = ts)
      save(ResolverOps.suggest(withPos,
        suggestions.select(col("lid").as("src"), col("rid").as("dst"),
          col("score")), user = "xref", ts = ts), s"$out/edges")
      s"[xref] wrote $out/merges, $out/suggestions and $out/edges"
    },
    // `cli.py:322-334`
    Cmd("apply", "<statements> <out>", Seq("dataset NAME", "edges DIR"),
        "canonicalize statements through the merge edges of --edges") { c =>
      val Seq(in, out) = c.pos
      val edges = c("edges")
      val canon = CliArgs.applyCanonical(c.stmts(in),
        CliArgs.canonicalMapOf(c.parquet(edges)))
      if (out.endsWith(".csv")) StatementFormats.writeCsv(canon, out)
      else save(canon, out)
      s"[apply] wrote $out"
    },
    // `cli.py:232-236`
    Cmd("sorted-aggregate", "<statements> <out>", Seq("dataset NAME"),
        "one merged ijson entity per canonical id") { c =>
      val Seq(in, out) = c.pos
      writeLines(EntityStore.toIjson(EntityStore.assemble(c.stmts(in))), out)
      s"[sorted-aggregate] wrote $out"
    },
    // `cli.py:249-264`, batch form: the SURVEY §7.2 slice as one command
    Cmd("dedupe", "<statements> <out>", "dataset NAME" +: XrefFlags,
        "xref auto-merge, components, apply and assemble to ijson") { c =>
      val Seq(in, out) = c.pos
      import c.spark.implicits._
      val stmts = c.held.persist(c.stmts(in))
      val cfg = CliArgs.xrefConfig(c.flags ++ Map(
        "auto-threshold" -> c.flag("auto-threshold", "0.5"),
        "algorithm" -> c.flag("algorithm", "regression-v1")))
      val decided = Seq.empty[(String, String)].toDF("src", "dst")
      val (merges, _) = Xref.run(c.spark, stmts, decided, cfg)
      val cm = CliArgs.canonicalMapOf(c.held.adopt(merges))
      writeLines(EntityStore.toIjson(EntityStore.assemble(
        CliArgs.applyCanonical(stmts, cm))), out)
      s"[dedupe] wrote $out"
    },
    // `cli.py:279-298`
    Cmd("match", "<query> <index> <out>", Seq("algorithm NAME"),
        "rank the indexed entities against each query entity") { c =>
      val Seq(query, index, out) = c.pos
      val enricher = new graft.enrich.DatasetEnricher("match-index",
        CliArgs.readStatements(c.spark, index, "index"))
      save(enricher.matchCandidates(c.spark,
        CliArgs.readStatements(c.spark, query, "query"),
        algorithm = c.flag("algorithm", defaultAlgorithm)), out)
      s"[match] wrote $out"
    },
    // `cli.py:300-321`: the mirror takes the place of the reference's
    // enricher config; `--config enrichers/foo.yml` instantiates from
    // that config's shape (type/api/dataset/strip_namespace/...)
    Cmd("enrich", "<entities> <mirror> <out>",
        Seq("algorithm NAME", "cutoff X", "config YML"),
        "mirror candidates and their expanded statements") { c =>
      val Seq(entities, mirror, out) = c.pos
      import graft.enrich.{EnricherConfigs, YenteEnricher}
      val m = CliArgs.readStatements(c.spark, mirror, "mirror")
      val algorithm = c.flag("algorithm", defaultAlgorithm)
      val cutoff = c.flags.get("cutoff").map(_.toDouble)
      val enricher = c.flags.get("config") match {
        case Some(cfgPath) => EnricherConfigs.makeYente(
          EnricherConfigs.load(cfgPath), m, algorithm = algorithm,
          cutoff = cutoff)
        case None =>
          new YenteEnricher(m, algorithm = algorithm, cutoff = cutoff)
      }
      val cands = enricher.matchEntities(c.spark,
        CliArgs.readStatements(c.spark, entities, "query"))
      save(cands, s"$out/candidates")
      save(enricher.expandNested(cands), s"$out/statements")
      s"[enrich] wrote $out/candidates and $out/statements"
    },
    // `cli.py:213-219`
    Cmd("prune", "<edges> <out>", Nil,
        "drop suggestions a canonical map made redundant") { c =>
      val Seq(in, out) = c.pos
      val edges = c.parquet(in)
      val positive = edges.filter(col("judgement") === ResolverOps.Positive)
        .select(col("source").as("src"), col("target").as("dst"))
      save(ResolverOps.prune(edges, CliArgs.canonicalMapOf(positive)), out)
      s"[prune] wrote $out"
    },
    // `cli.py:337-351`: round-trippable with the reference's file format
    Cmd("dump-resolver", "<edges> <out>", Nil,
        "resolver edge table to its line-oriented dump") { c =>
      val Seq(in, out) = c.pos
      writeLines(ResolverOps.dump(c.parquet(in)), out)
      s"[dump-resolver] wrote $out"
    },
    Cmd("load-resolver", "<dump> <out>", Nil,
        "line-oriented resolver dump back to the edge table") { c =>
      val Seq(in, out) = c.pos
      save(ResolverOps.load(
        c.spark.read.text(in).withColumnRenamed("value", "line")), out)
      s"[load-resolver] wrote $out"
    },
    // `cli.py:239-246`
    Cmd("make-sortable", "<statements> <out>", Seq("dataset NAME"),
        "entities as id-ordered ijson, as sorted-aggregate reads") { c =>
      val Seq(in, out) = c.pos
      writeLines(EntityStore.toIjson(EntityStore.assemble(c.stmts(in)))
        .orderBy("line"), out)
      s"[make-sortable] wrote $out"
    },
    // `cli.py:266-276`: the model is the cross-engine interchange format
    // of [[graft.matching.ModelIO]]
    Cmd("train", "<pairs> <entities> <model.json>",
        Seq("algorithm NAME", "epochs N"),
        "judged pairs to scaler-folded logistic coefficients") { c =>
      val Seq(pairsIn, entitiesIn, out) = c.pos
      import graft.matching.{Algorithms, EntityMatch, ModelIO, Training}
      val algo = Algorithms.registry(
        c.flag("algorithm", Algorithms.dedupe.name))
      val stmts = CliArgs.readStatements(c.spark, entitiesIn, "train")
      val views = EntityMatch.views(EntityStore.assemble(stmts), stmts)
      val frame = Training.trainingFrame(c.parquet(pairsIn), views, algo)
      val featCols = algo.features.map(f => s"f_${f.name}")
      val clean = Training.quarantine(frame, featCols)
      val (means, scales) = ModelIO.fitScaler(clean, featCols)
      val scaled = featCols.zipWithIndex.foldLeft(clean) {
        case (df, (f, i)) => df.withColumn(f, (col(f) - means(i)) / scales(i))
      }
      val model = Training.trainLogistic(scaled, featCols,
        epochs = c.flag("epochs", "200").toInt)
      val json = ModelIO.toJson(ModelIO.ScaledModel(algo.name,
        algo.features.map(_.name), means, scales, model.weights,
        model.intercept))
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        json.getBytes("UTF-8"))
      s"[train] wrote $out"
    },
    // the batch form of `nk dedupe`'s TUI (`tui/dedupe.py:24-112`,
    // SURVEY §7.4 risk 5): `<out>/queue` (left_id, right_id, score,
    // schemas) and `<out>/comparisons` (per-prop values + similarity,
    // display-ordered): what a person judges to write `decide`'s input
    Cmd("review", "<edges> <entities> <out>", Seq("dataset NAME", "limit N"),
        "the review queue and side-by-side property comparisons") { c =>
      val Seq(edgesIn, entitiesIn, out) = c.pos
      import graft.resolver.Review
      val edges = c.parquet(edgesIn)
      val stmts = c.stmts(entitiesIn)
      val positive = ResolverOps.live(edges)
        .filter(col("judgement") === ResolverOps.Positive)
        .select(col("source").as("src"), col("target").as("dst"))
      val cm = CliArgs.canonicalMapOf(positive)
      val schemas = CliArgs.applyCanonical(stmts, cm)
        .groupBy(col("canonical_id").as("id"))
        .agg(min(col("schema")).as("schema"))
      val queue =
        Review.queue(edges, cm, schemas, graft.model.Ftm.compatPairs)
      save(queue, s"$out/queue")
      val top = queue
        .orderBy(col("score").desc, col("left_id"), col("right_id"))
        .limit(c.flag("limit", "1000").toInt)
      save(Review.comparison(top.select("left_id", "right_id"),
        CliArgs.applyCanonical(stmts, cm)), s"$out/comparisons")
      s"[review] wrote $out/queue and $out/comparisons"
    },
    // the TUI's decide step (`tui/util.py:25-37`): a CSV with header
    // `src,dst,judgement[,score]`; re-keying the store is `apply`'s
    // job, like the reference's `store.update(canonical)` follow-up
    Cmd("decide", "<edges> <decisions.csv> <out>",
        Seq("user NAME", "ts TIME"),
        "upsert a decisions CSV into the resolver edge log") { c =>
      val Seq(edgesIn, decisionsIn, out) = c.pos
      val decisions = c.spark.read.option("header", "true").csv(decisionsIn)
      val withScore =
        if (decisions.columns.contains("score"))
          decisions.withColumn("score", col("score").cast("double"))
        else decisions.withColumn("score", lit(null).cast("double"))
      save(ResolverOps.decide(c.parquet(edgesIn), withScore.select(
          col("src"), col("dst"), col("judgement"), col("score")),
        user = c.flag("user", sys.props("user.name")), ts = c.now), out)
      s"[decide] wrote $out"
    },
    // the terminal step of the reconcile loop (`tui/reconcile.py`
    // confirm → `wikidata/propose.py` → QuickStatements): resolved
    // (entity_id, qid) pairs diff against the parsed dump; with
    // `--create-unmatched true` unmatched entities become CREATE blocks
    Cmd("propose", "<entities> <snaks> <pairs> <out.qs>",
        Seq("dataset NAME", "retrieved DATE", "positions DIR",
          "source-url URL", "create-unmatched BOOL"),
        "wikidata write-back proposals as a QuickStatements batch") { c =>
      val Seq(entitiesIn, snaksIn, pairsIn, out) = c.pos
      import graft.enrich.Propose
      val stmts = c.stmts(entitiesIn)
      val pairsDf = c.parquet(pairsIn)
      val (retrieved, sourceUrl) =
        (c.flags.get("retrieved"), c.flags.get("source-url"))
      val positions = c.flags.get("positions").map(c.parquet).getOrElse(
        emptyFrame(c.spark, "entity_id", "pos_qid", "start", "end"))
      val enriched = Propose.enrich(c.held)(pairsDf, stmts, c.parquet(snaksIn),
        positions, retrieved, sourceUrl)
      val all =
        if (c.flags.get("create-unmatched").contains("true")) {
          val matched = pairsDf.select(col("entity_id")).distinct()
          val unmatchedStmts = stmts.join(broadcast(matched),
            stmts("entity_id") === matched("entity_id"), "left_anti")
          enriched.unionByName(
            Propose.create(unmatchedStmts, retrieved, sourceUrl))
        } else enriched
      writeLines(ordered(all), out)
      s"[propose] wrote $out"
    },
    // the reference's reconcile command (`wikidata/reconcile.py:
    // 282-342`): persons search the mirrored dump by name (with
    // --algorithm, a blocker join + matcher re-score), the best candidate
    // above the threshold auto-merges into the edge log, linked persons
    // emit enrich proposals and the rest CREATE blocks
    Cmd("reconcile", "<entities> <snaks> <out>",
        Seq("dataset NAME", "edges DIR", "algorithm NAME", "threshold X",
          "create BOOL", "retrieved DATE", "source-url URL", "ts TIME"),
        "reconcile to <out>/decisions, <out>/edges, <out>/batch.qs") { c =>
      val Seq(entitiesIn, snaksIn, out) = c.pos
      import graft.enrich.{Reconcile, Wikidata}
      val stmts = c.stmts(entitiesIn)
      val snaks = c.parquet(snaksIn)
      val priorEdges = c.flags.get("edges").map(c.parquet)
      val canonicals = priorEdges
        .map(e => CliArgs.canonicalMapOf(
          e.filter(col("judgement") === ResolverOps.Positive)
            .select(col("target").as("src"), col("source").as("dst")))
          .select(col("member"), col("canonical")))
        .getOrElse(emptyFrame(c.spark, "member", "canonical"))
      val decided = priorEdges
        .map(_.filter(col("deleted_at").isNull &&
          col("judgement") =!= ResolverOps.NoJudgement)
          .select(col("target").as("entity_id"), col("source").as("qid")))
        .getOrElse(emptyFrame(c.spark, "entity_id", "qid"))
      val persons = stmts.filter(col("schema") === "Person")
      val candidates = c.flags.get("algorithm") match {
        case Some(alg) => Reconcile.rankCandidates(c.spark, persons,
          Wikidata.toStatementTable(Wikidata.statements(snaks), "wikidata"),
          alg)
        case None => Reconcile.searchCandidates(persons, snaks)
      }
      val (decisions, merges, commands) = Reconcile.reconcile(c.held)(
        stmts, snaks, canonicals, decided, candidates,
        c.flags.get("threshold").map(_.toDouble)
          .getOrElse(Reconcile.Threshold),
        create = !c.flags.get("create").contains("false"),
        retrieved = c.flags.get("retrieved"),
        sourceUrl = c.flags.get("source-url"))
      save(decisions, s"$out/decisions")
      val ts = c.now
      save(merges.select(col("src").as("target"), col("dst").as("source"),
        lit(ResolverOps.Positive).as("judgement"), col("score"),
        lit("reconcile").as("user"), lit(ts).as("created_at"),
        lit(null).cast("string").as("deleted_at")), s"$out/edges")
      writeLines(ordered(commands), s"$out/batch.qs")
      s"[reconcile] wrote $out/decisions, $out/edges, $out/batch.qs"
    },
    // `nk bench` (`cli.py:353-358`; `matching/bench.py:15-33`): cycles a
    // fixed pair list like the reference's `itertools.cycle`. Pairs come
    // from a (lid, rid) Parquet, else consecutive views round-robin.
    // Single-threaded in this JVM on purpose: the per-pair
    // comparator the distributed scorer runs per row, not a cluster job.
    Cmd("bench-matchers", "<entities> [pairs]",
        Seq("dataset NAME", "number N", "limit N", "algorithm NAME"),
        "time N pair comparisons per scoring algorithm") { c =>
      import graft.matching.{Algorithms, EntityMatch, EntityView}
      val in = c.pos(0)
      val n = c.flag("number", "1000").toInt
      val stmts = c.stmts(in)
      val vs = EntityMatch.collectViews(
        EntityMatch.views(EntityStore.assemble(stmts), stmts),
        c.flag("limit", "1000").toInt)
      require(vs.nonEmpty, s"no entities in $in")
      val pairs: IndexedSeq[(EntityView, EntityView)] = c.pos.lift(1) match {
        case Some(pairsPath) =>
          val byId = vs.map(v => v.id -> v).toMap
          c.parquet(pairsPath).select("lid", "rid").collect()
            .toIndexedSeq.flatMap { r =>
              for {
                a <- byId.get(r.getString(0))
                b <- byId.get(r.getString(1))
              } yield (a, b)
            }
        case None => vs.indices.map(i => (vs(i), vs((i + 1) % vs.size)))
      }
      require(pairs.nonEmpty, "no comparable pairs")
      val algos = c.flags.get("algorithm") match {
        case Some(a) => Seq(Algorithms.registry.getOrElse(a,
          sys.error(s"no matcher named $a")))
        case None => Algorithms.registry.toSeq.sortBy(_._1).map(_._2)
      }
      algos.map { algo =>
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
        graft.Record.fmt("[bench] %-16s n=%-6d total=%.3f s  %.1f us/call",
          algo.name, n, dt / 1e9, dt / 1e3 / n)
      }.mkString("\n")
    },
    // `contrib/name_bench/perf.py`: median-of-N per case after a warmup
    // pass; the slowest cases are long ORG names (the alignment matrix
    // is parts²). Runs in this JVM, no session.
    Cmd("name-bench", "<cases.csv>",
        Seq("runs N", "threshold X", "comparator NAME"),
        "name-comparator accuracy and us/call over a cases CSV") { c =>
      import graft.matching.NameBench
      val cases = NameBench.loadCases(c.pos(0))
      require(cases.nonEmpty, s"no cases in ${c.pos(0)}")
      val runs = c.flag("runs", "10").toInt
      val threshold = c.flag("threshold", "0.7").toDouble
      val comps = c.flags.get("comparator") match {
        case Some(name) => NameBench.comparators.filter(_._1 == name)
        case None => NameBench.comparators
      }
      require(comps.nonEmpty, "unknown comparator")
      val stats = NameBench.run(cases, comps, runs, threshold).flatMap { st =>
        graft.Record.fmt("[name-bench] %-14s mean=%8.1f us  p50=%7.1f  " +
          "p95=%8.1f  total=%7.1f ms  P=%.3f R=%.3f F1=%.3f", st.name,
          st.meanUs, st.p50Us, st.p95Us, st.totalMs, st.precision,
          st.recall, st.f1) +:
          st.slowest.map { case (k, us) =>
            graft.Record.fmt("[name-bench]   slow %9.1f us  [%s] ", us,
              k.schema) + s"'${k.name1}' vs '${k.name2}'"
          }
      }
      (s"[name-bench] ${cases.size} cases, runs=$runs, threshold=$threshold"
        +: stats).mkString("\n")
    },
    // the ingest of every stored-index lake artifact for a data dir, the
    // analogue of the reference's `load-statements`/index build: later
    // sessions read the artifacts instead of re-deriving them. --gc
    // retires generations of older builds or regenerated dirs.
    Cmd("index-build", "<sfDir>",
        Seq("index-dir DIR", "gc", "gc-age-hours H"),
        "build and publish every stored-index artifact of a dir") { c =>
      val d = c.pos(0)
      // --index-dir holds for this verb only: the property is JVM-global,
      // and a long-lived session's later verbs read their own root
      val prev = sys.props.get("graft.index.dir")
      c.flags.get("index-dir").foreach(sys.props.put("graft.index.dir", _))
      try {
        val t0 = System.nanoTime()
        graft.Caches.ensureAll(c.spark, d)
        val sec = (System.nanoTime() - t0) / 1e9
        val built = graft.IndexLake.fingerprint(d)
        val out = java.nio.file.Paths.get(graft.IndexLake.root, built)
        val gc = if (!c.flags.contains("gc")) "" else {
          val age = c.flag("gc-age-hours", "6.0").toDouble
          val gone = graft.IndexLake.gc(Set(built), (age * 3600 * 1000).toLong)
          s"\n[index-build] gc retired ${gone.size} stale generations"
        }
        graft.Record.fmt("[index-build] %s -> %s in %.1f s", d, out, sec) + gc
      } finally prev match {
        case Some(v) => sys.props.put("graft.index.dir", v)
        case None => sys.props.remove("graft.index.dir")
      }
    },
    // the resolver state in lake form, folding approved edge batches in
    // O(affected members) ([[graft.streaming.ResolveStream]],
    // `resolver/resolver.py:353-401`)
    Cmd("resolve-state init", "<edges> <stateDir>", Nil,
        "initialize the state from a clustered edge list") { c =>
      val Seq(edges, dir) = c.pos
      graft.streaming.ResolveStream.init(
        graft.resolver.Resolver.connectedComponents(
          c.parquet(edges).select(col("src"), col("dst"))), dir)
      s"[resolve-state] initialized $dir"
    },
    Cmd("resolve-state add", "<edges> <stateDir>", Seq("ts TIME"),
        "fold an edge batch in O(affected members)") { c =>
      val Seq(edges, dir) = c.pos
      graft.streaming.ResolveStream.applyBatch(c.spark,
        c.parquet(edges).select(col("src"), col("dst")), dir, seen = c.now)
      s"[resolve-state] applied batch to $dir"
    },
    Cmd("resolve-state state", "<stateDir> <out>", Nil,
        "write the current (id, cluster) components") { c =>
      val Seq(dir, out) = c.pos
      save(graft.streaming.ResolveStream.state(c.spark, dir), out)
      s"[resolve-state] wrote $out"
    },
    // `nk load` in lake form: the SQL store's upsert-on-id semantics
    // (`store/sql.py:90-177`) through [[graft.store.MergeLake]]
    Cmd("merge-lake init", "<statements> <lakeDir>", Seq("dataset NAME"),
        "start a statement lake") { c =>
      val Seq(in, lake) = c.pos
      MergeLake.init(stmtsWithId(c, in), lake)
      s"[merge-lake] initialized $lake"
    },
    Cmd("merge-lake append", "<delta> <lakeDir>", Seq("dataset NAME"),
        "append an upsert delta in O(delta)") { c =>
      val Seq(in, lake) = c.pos
      val seq = MergeLake.append(stmtsWithId(c, in), lake)
      s"[merge-lake] appended delta $seq to $lake"
    },
    Cmd("merge-lake compact", "<lakeDir>", Nil,
        "fold the deltas into the touched buckets") { c =>
      val lake = c.pos(0)
      val touched = MergeLake.compact(c.spark, lake)
      s"[merge-lake] compacted ${touched.size} buckets in $lake"
    },
    Cmd("merge-lake snapshot", "<lakeDir> <out>", Nil,
        "write the resolved current state") { c =>
      val Seq(lake, out) = c.pos
      save(MergeLake.snapshot(c.spark, lake), out)
      s"[merge-lake] wrote $out"
    },
    // the composed incremental loop ([[graft.streaming.LoopStream]]):
    // every parquet file landing in <incomingDir> is one micro-batch
    // through MERGE ingest → index fold → delta xref → incremental
    // decide → Δ-scoped apply. --drain processes what is there and
    // stops (Trigger.AvailableNow); without it the query tails the dir.
    Cmd("loop-stream init", "<day0> <rootDir>", "dataset NAME" +: XrefFlags,
        "day-0 init of the incremental loop") { c =>
      val Seq(in, root) = c.pos
      graft.streaming.LoopStream.init(c.spark,
        c.stmts(in).withColumn("stmt_id", col("id")),
        graft.streaming.LoopStream.Paths(root), loopConfig(c))
      s"[loop-stream] initialized $root"
    },
    Cmd("loop-stream run", "<incomingDir> <rootDir>", "drain" +: XrefFlags,
        "stream landing statement files through the loop") { c =>
      val Seq(in, root) = c.pos
      val p = graft.streaming.LoopStream.Paths(root)
      // the schema of the lake init committed: a file stream cannot
      // infer it
      val schema = MergeLake.snapshot(c.spark, p.lake).drop("bucket").schema
      val writer = graft.streaming.LoopStream.sink(
        c.spark.readStream.schema(schema).parquet(in), p, loopConfig(c))
      (if (c.flags.contains("drain")) writer.trigger(Trigger.AvailableNow())
       else writer).start().awaitTermination()
      s"[loop-stream] drained $in into $root"
    },
    // the training-corpus curation pipeline ([[CurateMain.run]]):
    // `<outDir>/corpus` partitioned by shard and `<outDir>/report.json`
    Cmd("curate", "<documents> <outDir>", Seq("min-quality X", "min-logp X"),
        "dedup, quality/LM gates, near-dups, shards, packing") { c =>
      val Seq(in, out) = c.pos
      val (curated, report) = CurateMain.run(c.spark, c.parquet(in),
        c.flag("min-quality", "0.3").toDouble,
        c.flag("min-logp", "-12.0").toDouble)
      curated.write.mode("overwrite").partitionBy("shard")
        .parquet(s"$out/corpus")
      // Hadoop FS, not java.nio: outDir may be hdfs:// or s3:// — both
      // outputs must honor the same scheme
      val reportPath = new org.apache.hadoop.fs.Path(out, "report.json")
      val os = reportPath
        .getFileSystem(c.spark.sparkContext.hadoopConfiguration)
        .create(reportPath, true)
      try os.write(report.json.getBytes("UTF-8")) finally os.close()
      s"[curate] wrote $out/corpus and $out/report.json"
    },
    // the streaming incremental matcher ([[graft.streaming.MatchStream]]):
    // the TF index is built once; `--trigger available-now` (default)
    // drains the directory and exits, an interval ("30 seconds") runs
    // continuously, the one mode where --state-ttl belongs
    Cmd("watch-match", "<corpus> <watchDir> <outDir>",
        Seq("trigger available-now|INTERVAL", "checkpoint DIR",
          "dataset NAME", "state-ttl DUR"),
        "stream statement batches to live candidate rankings") { c =>
      val Seq(corpus, watchDir, outDir) = c.pos
      import graft.blocker.{Blocker, EntityTokenizer}
      val cfg = Blocker.Config()
      val tf = c.held.cut(Blocker.termFrequencies(
        EntityTokenizer.entries(c.stmts(corpus)), Xref.compatDf(c.spark),
        Xref.boostsDf(c.spark), cfg, dampFields = EntityTokenizer.DampFields))
      val out = graft.streaming.MatchStream.candidates(
        c.spark.readStream.schema(StreamSchema).json(watchDir), tf,
        Xref.compatDf(c.spark), cfg, stateTtl = c.flags.get("state-ttl"))
      out.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation",
          c.flag("checkpoint", s"$outDir/_checkpoint"))
        .outputMode("append")
        .trigger(c.flag("trigger", "available-now") match {
          case "available-now" => Trigger.AvailableNow()
          case interval => Trigger.ProcessingTime(interval)
        })
        .start().awaitTermination()
      s"[watch-match] wrote $outDir"
    },
    // `contrib/scoring_loss.py`
    Cmd("scoring-loss", "<pairs.json> [threshold]", Nil,
        "per-algorithm mean loss and confusion over judged pairs") { c =>
      import graft.matching.ScoringLoss
      val threshold = c.pos.lift(1).map(_.toDouble).getOrElse(0.7)
      val report = ScoringLoss.report(ScoringLoss.scoreJudged(
        ScoringLoss.readPairs(c.spark, c.pos(0))), threshold)
      val table = new java.io.ByteArrayOutputStream()
      Console.withOut(table)(report.show(50, truncate = false))
      table.toString("UTF-8").stripLineEnd
    },
    // `contrib/entity_bench/benchmark.py`; in this JVM, no session
    Cmd("bench-checks", "[checks.yml] [thresholds]", Nil,
        "entity-bench confusion per schema, algorithm, threshold") { c =>
      import graft.matching.EntityBench
      val path = c.pos.lift(0).getOrElse(EntityBench.DefaultChecksPath)
      val thresholds = c.pos.lift(1).map(_.split(',').toSeq.map(_.toDouble))
        .getOrElse(Seq(0.5, 0.7, 0.9))
      val checks = EntityBench.loadChecks(path)
      (s"entity_bench: ${checks.size} checks from $path" +:
        EntityBench.runAll(checks, thresholds).map(EntityBench.format))
        .mkString("\n")
    },
    // the variant-lexicon A/B: logic-v2 against the reference's frozen
    // name-bench run at 0.7 plus the entity_bench totals, in this JVM
    // with no session, so GRAFT_NAME_VARIANTS (read once at Symbols
    // class init) can be flipped between runs:
    // `GRAFT_NAME_VARIANTS=data/name_variants_public.txt spark-submit
    // --class graft.cli.Nk graft.jar lexicon-bench`
    Cmd("lexicon-bench", "[frozen.csv] [checks.yml]", Nil,
        "name-variant lexicon: frozen-run agreement, bench totals") { c =>
      import graft.matching.{Algorithms, EntityBench, EntityView, NameBench}
      // the reference checkout's frozen logic-v2 run, beside its checks
      val frozen = c.pos.lift(0).getOrElse(EntityBench.DefaultChecksPath
        .replace("entity_bench/checks.yml",
          "name_bench/run_data/logicv2-frozen.csv"))
      val lex = graft.text.Symbols.lexiconPath
      val threshold = 0.7
      def view(schema: String, name: String): EntityView =
        EntityView("x", schema, Seq(name), Nil, Nil, Nil, Nil, Nil, Nil,
          Nil, Nil)
      val scored = NameBench.readCsv(frozen).flatMap { r =>
        try Some((r("schema"), r("name1"), r("name2"),
          r("is_match").toBoolean, r("score").toDouble,
          r("predicted_match").toBoolean))
        catch { case _: Exception => None }
      }.map { case (sc, n1, n2, isM, fs, fp) =>
        val s = Algorithms.LogicV2.score(view(sc, n1), view(sc, n2))
        (isM, fs, fp, s, s >= threshold)
      }
      val n = scored.size
      val agreeFrozen = scored.count { case (_, _, fp, _, p) => p == fp }
      val agreeTruth = scored.count { case (isM, _, _, _, p) => p == isM }
      val mae = scored.map { case (_, fs, _, s, _) =>
        math.abs(s - fs) }.sum / n
      val checks = EntityBench.loadChecks(
        c.pos.lift(1).getOrElse(EntityBench.DefaultChecksPath))
      val r = EntityBench.run(checks, Algorithms.LogicV2, threshold)
      Seq(s"[lexicon-bench] GRAFT_NAME_VARIANTS=${lex.getOrElse("(none)")}",
        graft.Record.fmt("[lexicon-bench] name-bench n=%d agreeFrozen=%d " +
          "(%.5f) agreeTruth=%d (%.5f) MAE=%.4f", n, agreeFrozen,
          agreeFrozen.toDouble / n, agreeTruth, agreeTruth.toDouble / n, mae),
        graft.Record.fmt("[lexicon-bench] entity_bench@%.1f correct=%d/%d " +
          "FP=%d FN=%d loss=%.3f", threshold, r.total.correct, checks.size,
          r.total.falsePositives, r.total.falseNegatives, r.total.avgLoss)
      ).mkString("\n")
    })

  val Usage: String = (
    "usage: nk <verb> [args]   (spark-submit --class graft.cli.Nk graft.jar)"
    +: Table.map(c => s"  ${c.usage}\n      ${c.help}")).mkString("\n")
}
