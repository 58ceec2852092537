package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.Tables

/** Corpus-curation operators a large-scale training-data pipeline runs
  * after per-document profiling: repetition-based quality filtering
  * (the Gopher rules), benchmark decontamination, cross-document
  * duplicated-n-gram coverage (the bounded form of exact-substring
  * dedup, Lee et al. 2022), fixed-length chunking, and balanced shard
  * packing. All word handling shares [[TextAnalysis.words]] so every
  * operator sees the same byte-stable tokenization as the rest of the
  * text stack.
  *
  * Scale shapes (100 TB): repetition/contamination/crossdoc are
  * explode → hash-aggregate pipelines — the gram streams shuffle on
  * (doc, gram) or gram with full map-side combine and no all-pairs
  * join anywhere; chunking is map-only; shard packing windows only
  * within a source partition (never a global sort).
  */
object Curation {

  /** Decontamination / crossdoc gram sizes. Real pipelines use 8-13
    * word grams; the synthetic corpus draws from a ~40-word vocabulary
    * so those would never collide — 3/4 exercise the same plan with a
    * non-degenerate hit rate. A production run only changes these
    * constants: the plan shape is n-independent.
    */
  val ContaminationN = 3
  val CrossdocN = 4

  /** Chunk length (tokens) for fixed-length packing. */
  val ChunkLen = 64L

  /** Target tokens per training shard. */
  val ShardTokens = 1000L

  /** Word n-grams over the materialized `w` attribute (HOF rule: the
    * lambda references only attributes, so the split runs once per doc).
    */
  private[textanalysis] def grams(n: Int): Column =
    transform(sequence(lit(1), size(col("w")) - (n - 1)),
      i => concat_ws(" ",
        (0 until n).map(k => element_at(col("w"), i + lit(k))): _*))

  // floor(x*1e4+0.5)/1e4 everywhere a double fraction is emitted — see
  // TextAnalysis.qualityExpr for why round() diverges across engines
  private def frac4(num: Column, den: Column): Column =
    floor(num.cast(DoubleType) / den.cast(DoubleType) * 10000 + 0.5) / 10000

  /** Gopher-style repetition profile: the fraction of the document
    * occupied by its single most frequent bigram, and the fraction of
    * trigram occurrences whose gram occurs more than once. High values
    * flag boilerplate/template text that TTR alone misses (a page of
    * "click here to continue" has healthy TTR per sentence but a
    * dominant bigram). Two explode → two-level hash aggregations on
    * (doc_id, gram): full map-side combine, no join wider than the
    * final doc_id merge.
    */
  def repetitionOf(docs: DataFrame): DataFrame = {
    // gram multiplicities are DOC-LOCAL: one map-only projection via
    // the native one-pass kernel (graft.functions.GramStats) — the
    // previous composed shape exploded (doc, gram) string rows through
    // two 2-level corpus-wide aggregations plus a join (5 shuffles) to
    // compute per-row facts; 1.36 s → map-only at sf0.1, hash-green
    TextAnalysis.withWords(docs).filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        graft.functions.GramStats.of(col("w"), 2).as("bi"),
        graft.functions.GramStats.of(col("w"), 3).as("tri"))
      .select(col("doc_id"),
        frac4(col("bi.top"), col("bi.total")).as("top_bigram_frac"),
        frac4(col("tri.dup"), col("tri.total")).as("dup_trigram_frac"))
  }

  def repetitionQ(s: SparkSession, d: String): DataFrame =
    repetitionOf(Tables.documents(s, d))

  /** Distinct word n-grams per document, and the held-out eval-slice
    * predicate (benchmark stand-in) — shared by the exact contamination
    * probe and its Bloom sketch form ([[Sketches.bloomOf]]), so the two
    * can never diverge on what "the eval set" means.
    */
  private[textanalysis] def distinctGrams(docs: DataFrame, n: Int): DataFrame =
    TextAnalysis.withWords(docs)
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(grams(n))).as("g"))

  private[textanalysis] def isEval: Column = col("doc_id") % 97 === 0

  /** Benchmark decontamination: for every training document, the
    * fraction of its distinct [[ContaminationN]]-grams that appear in
    * a held-out eval slice. The eval gram set is bounded by the
    * benchmark corpus — a few MB even for a large suite — so it
    * broadcasts and the 100 TB training side never shuffles for the
    * probe; the only exchange is the per-doc count aggregation.
    */
  def contaminationOf(docs: DataFrame): DataFrame = {
    val g = distinctGrams(docs, ContaminationN)
    val eval_ = g.filter(isEval)
      .select(col("g")).distinct()
      .withColumn("eg", lit(1))
    g.filter(!isEval)
      .join(broadcast(eval_), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("eg")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        frac4(col("n_hit"), col("n_grams")).as("contamination"))
  }

  def contaminationQ(s: SparkSession, d: String): DataFrame =
    // scatter first: both gram branches then derive from the reused
    // exchange at full parallelism instead of the single scan task
    contaminationOf(Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id")))

  /** Cross-document duplicated-n-gram coverage — the bounded form of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022): a [[CrossdocN]]-gram is
    * "duplicated" when it occurs in ≥2 documents; each doc reports the
    * fraction of its distinct grams that are duplicated. Unlike the
    * suffix-array formulation this is pure relational algebra: distinct
    * (doc, gram) pairs, a gram-keyed document-frequency aggregate, and
    * one equi-join back — both sides hash-partition on the gram, so at
    * 100 TB it is two shuffles of the gram stream and nothing else.
    */
  def crossdocOf(docs: DataFrame): DataFrame =
    crossdocFrom(crossdocGramsOf(docs))

  /** The distinct (doc_id, gram) rows behind [[crossdocQ]]. */
  private def crossdocGramsOf(docs: DataFrame): DataFrame =
    TextAnalysis.withWords(docs)
      .filter(size(col("w")) >= CrossdocN)
      .select(col("doc_id"),
        explode(array_distinct(grams(CrossdocN))).as("g"))

  private def crossdocFrom(gramRows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the per-gram df rides a window COUNT on one g-exchange: the
    // former df-aggregate ⋈ gram-stream join relied on ReuseExchange
    // to share the exchange, but AQE never reuses the twin exchanges,
    // so the stored gram stream was scanned and shuffled TWICE per
    // invocation (2 × 255k rows / ~26 s summed stage cpu at sf0.1)
    gramRows
      .repartition(gramRows.sparkSession.sparkContext.defaultParallelism,
        col("g"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        frac4(col("n_dup"), col("n_grams")).as("dup_frac"))
  }

  /** The crossdoc gram table as a lake artifact — the tokenize + gram
    * explode moves to ingest (the Lee et al. pipeline materializes its
    * suffix array the same way); the query is two shuffles of the
    * stored gram stream.
    */
  def crossdocGramsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "crossdoc_grams")(
      crossdocGramsOf(Tables.documents(s, d).repartition(
        s.sparkContext.defaultParallelism, col("doc_id"))))

  def crossdocQ(s: SparkSession, d: String): DataFrame =
    crossdocFrom(crossdocGramsCk(s, d))

  /** Fixed-length chunking: split each document's token stream into
    * [[ChunkLen]]-token training chunks — (doc, chunk index, chunk
    * size). Map-only (sequence + explode), no shuffle at any scale.
    */
  def chunksOf(docs: DataFrame): DataFrame = {
    val nTok = size(col("w")).cast(LongType)
    TextAnalysis.withWords(docs)
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), nTok.as("n"))
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L),
          floor((col("n") + (ChunkLen - 1L)) / ChunkLen).cast(LongType) - 1L))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(ChunkLen), col("n") - col("chunk_id") * ChunkLen)
          .as("chunk_tokens"))
  }

  def chunksQ(s: SparkSession, d: String): DataFrame =
    chunksOf(Tables.documents(s, d))

  /** Balanced training-shard packing, per source: rank a source's docs
    * by token count (desc) and deal them round-robin into
    * ceil(source_tokens / [[ShardTokens]]) shards — the sorted
    * round-robin heuristic that keeps shard sizes within one doc of
    * each other. The window partitions BY SOURCE (never a global sort):
    * each source ranks independently, so at 100 TB the plan is one
    * shuffle on source plus a broadcast of the tiny per-source totals.
    */
  def shardsOf(docs: DataFrame): DataFrame = {
    // no HOF downstream of `w` here (only size), so the split needs no
    // staged projection — see TextAnalysis.withWords for the rule
    val toks = docs
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.words(col("text"))).cast(LongType).as("n"))
      .filter(col("n") > 0)
    val nShards = toks.groupBy(col("source"))
      .agg(ceil(sum(col("n")).cast(DoubleType) / ShardTokens)
        .cast(LongType).as("n_shards"))
    val rn = row_number().over(
      Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("doc_id")))
    toks.withColumn("rn", rn.cast(LongType))
      .join(broadcast(nShards), Seq("source"))
      .select(col("source"),
        pmod(col("rn") - 1L, col("n_shards")).as("shard_id"), col("n"))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("shard_tokens"))
  }

  def shardsQ(s: SparkSession, d: String): DataFrame =
    shardsOf(Tables.documents(s, d))

  /** Domain-mixture sampling: given per-source mixture weights, the
    * largest achievable corpus with EXACTLY those proportions is
    * limited by the scarcest source — T = min_s(tokens_s / w_s) weight
    * units — so each source samples at rate w_s·T / tokens_s and the
    * selected tokens land on the target mixture. Selection reuses the
    * content-keyed hash threshold of q_doc_sample (reproducible across
    * engines and partitionings, monotone under rate changes). Weights
    * here derive from the source ordinal (w = idx+1) so the operator
    * is SF-independent; production passes its own weight table. Two
    * aggregates + one broadcast join — the corpus never shuffles.
    */
  def mixtureOf(docs: DataFrame): DataFrame = {
    val bucket = conv(substring(
      md5(col("doc_id").cast(StringType)), 1, 4), 16, 10).cast(LongType)
    // ONE corpus pass: the old shape tokenized the corpus twice (once
    // for the per-source totals, once for the selection counts after
    // the rates existed). The selection predicate `bucket < rate *
    // 65536` only reads the doc through its 16-bit bucket, so a
    // per-(source, bucket) histogram — at most 65536 × sources rows,
    // corpus-independent — carries everything both aggregates need.
    // localCheckpoint materializes it once (the proven hllQ pattern:
    // AQE plans the two consumers as independent jobs and would
    // re-run the scan + tokenize per consumer), and tokenization, the
    // real cost at lake scale, happens exactly once.
    val hist = docs.select(col("source"),
        size(TextAnalysis.words(col("text"))).cast(LongType).as("n"),
        bucket.as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("docs"), sum(col("n")).as("toks"))
      .localCheckpoint(true)
    val w = substring(col("source"), 4, 10).cast(LongType) + 1L
    val src = hist.groupBy(col("source"))
      .agg(sum(col("toks")).as("tokens"))
      .withColumn("w", w)
    val t = src.agg(min(col("tokens").cast(DoubleType) / col("w"))
      .as("t_units"))
    // no broadcast on `rates` itself: it is the PRESERVED side of the
    // final left-outer join (unsupported build side — the hint would
    // just be dropped with a warning); the hint belongs on the probe
    // below, where rates joins the histogram
    val rates = src.crossJoin(broadcast(t))
      .withColumn("rate",
        least(lit(1.0), col("w") * col("t_units") / col("tokens")))
    val sel = hist.join(
        broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
      .filter(col("bucket") < col("rate") * 65536)
      .groupBy(col("source"))
      .agg(sum(col("docs")).as("sel_docs"), sum(col("toks")).as("sel_tokens"))
    rates.join(sel, Seq("source"), "left_outer")
      .select(col("source"), col("w"), col("tokens"),
        round(col("rate"), 6).as("rate"),
        coalesce(col("sel_docs"), lit(0L)).as("sel_docs"),
        coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"))
  }

  def mixtureQ(s: SparkSession, d: String): DataFrame =
    mixtureOf(Tables.documents(s, d))

  /** Deterministic epoch shuffling + shard assignment — the training
    * data loader's "global shuffle", relationally: every (epoch, doc)
    * gets a 60-bit content key md5(doc_id:epoch); the shard is the key
    * mod [[ShuffleShards]] (map-only — NO global sort: hash assignment
    * balances shards to within sampling noise, which is how a 100 TB
    * shuffle must work), and the within-shard read order is a window
    * over each shard's keys — local sorts of corpus/S rows. Different
    * epochs give statistically independent permutations; re-running
    * any epoch reproduces it bit-for-bit on any engine/partitioning.
    */
  val ShuffleShards = 8
  val ShuffleEpochs = 2

  /** The 60-bit content key of (doc, epoch) — shared by [[shuffleOf]]
    * and the curate CLI's shard assignment (epoch 0), so the CLI's
    * shards always match q_doc_shuffle's.
    */
  def shuffleKey(epoch: Column): Column = conv(substring(
    md5(concat(col("doc_id").cast(StringType), lit(":"),
      epoch.cast(StringType))), 1, 15), 16, 10).cast(LongType)

  def shuffleOf(docs: DataFrame): DataFrame = {
    val key = shuffleKey(col("epoch"))
    val keyed = docs.select(col("doc_id"))
      .withColumn("epoch", explode(array((0 until ShuffleEpochs)
        .map(e => lit(e)): _*)))
      .withColumn("k", key)
      .withColumn("shard", pmod(col("k"), lit(ShuffleShards.toLong)))
    keyed.withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("k").asc, col("doc_id").asc)))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
  }

  def shuffleQ(s: SparkSession, d: String): DataFrame =
    shuffleOf(Tables.documents(s, d))

  /** Context-window token budget for [[packOf]]. */
  val PackContext = 256L

  /** Sequence packing — the pretraining batch-prep step: concatenate
    * each shard's token stream in the epoch-0 shuffle order
    * ([[shuffleKey]], so packing follows the same deterministic
    * permutation the loader reads) and slice it into fixed
    * [[PackContext]]-token context windows — the GPT-style
    * concat-and-chunk packing: documents may straddle a window
    * boundary and no padding is ever emitted inside a shard. Emits per
    * document its interval in the shard stream (`start_tok`) and the
    * windows it lands in (`first_window`, `window_offset`,
    * `n_windows`).
    *
    * Relational shape: "bin state" never exists — it is integer
    * arithmetic on a running token sum, so the whole operator is one
    * window per shard over the deterministic order: one shuffle on
    * shard at any scale, no sequential fold, no driver loop. Integer
    * `div` (not double floor) keeps the window ids exact past 2^53
    * tokens.
    */
  def packOf(docs: DataFrame): DataFrame =
    packFrom(docs.select(col("doc_id"),
      size(TextAnalysis.words(col("text"))).cast(LongType).as("n_tokens")))
      .select(col("shard"), col("doc_id"), col("n_tokens"), col("start_tok"),
        col("first_window"), col("window_offset"), col("n_windows"))

  /** `a div b`: Spark's `IntegralDivide`, built without parsing SQL. */
  private[graft] def div(a: Column, b: Column): Column =
    Bridge.column(IntegralDivide(Bridge.expression(a), Bridge.expression(b)))

  /** The packing arithmetic over a frame that already carries its
    * token count as `n_tokens` (BIGINT): drops token-less rows and adds
    * `shard`, `start_tok`, `first_window`, `window_offset` and
    * `n_windows`; every other column passes through. [[packOf]] and the
    * curate pipeline (which carries its words from the quality gate)
    * both pack through it.
    */
  private[graft] def packFrom(toks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("k").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.filter(col("n_tokens") > 0)
      .withColumn("k", shuffleKey(lit(0)))
      .withColumn("shard", pmod(col("k"), lit(ShuffleShards.toLong)))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("first_window", div(col("start_tok"), lit(PackContext)))
      .withColumn("window_offset", pmod(col("start_tok"), lit(PackContext)))
      .withColumn("n_windows",
        div(col("start_tok") + col("n_tokens") - 1, lit(PackContext)) -
          div(col("start_tok"), lit(PackContext)) + lit(1L))
      .drop("k")
  }

  def packQ(s: SparkSession, d: String): DataFrame =
    packOf(Tables.documents(s, d))

  /** Weighted sample size for [[wsampleOf]]. */
  val WSampleN = 100

  /** Deterministic weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirakis priority scheme (2006), with token count as
    * the weight: each doc gets priority u^(1/w) for a content-keyed
    * uniform u, and the global top-[[WSampleN]] priorities are the
    * sample (token-heavy docs proportionally more likely). Engine
    * parity: ln(u)/w is the monotone log form, floored to 1e-6
    * fixed-point BEFORE ranking with a doc_id tiebreak, so the sample
    * set is identical across engines/partitionings; the plan is a
    * map-only projection + TakeOrderedAndProject (no global sort
    * materialization at any scale).
    */
  def wsampleOf(docs: DataFrame): DataFrame = {
    val u = (conv(substring(md5(concat(lit("ws:"),
      col("doc_id").cast(StringType))), 1, 4), 16, 10).cast(DoubleType) +
      lit(0.5)) / lit(65536.0)
    TextAnalysis.withWords(docs)
      .select(col("doc_id"), size(col("w")).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("prio_e6",
        floor(log(u) / col("n_tokens") * lit(1e6) + lit(0.5)).cast(LongType))
      .orderBy(col("prio_e6").desc, col("doc_id").asc)
      .limit(WSampleN)
  }

  def wsampleQ(s: SparkSession, d: String): DataFrame =
    wsampleOf(Tables.documents(s, d))

  /** Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): rewrite a
    * hash-selected [[FimRate]] of documents into PSM order —
    * `<PRE>prefix<SUF>suffix<MID>middle` — so the trained model learns
    * infilling. Map-only and fully content-keyed: the apply decision
    * reuses the q_doc_sample bucket idiom and the two split points are
    * independent md5 slices mod the character length, so the transform
    * is reproducible on any engine/partitioning (both engines index
    * substrings by CHARACTER, which the byte-stability round taught us
    * to check on this corpus's multi-byte text).
    */
  val FimRate = 0.5

  def fimOf(docs: DataFrame): DataFrame = {
    val L = length(col("text"))
    val bucket = conv(substring(
      md5(col("doc_id").cast(StringType)), 1, 4), 16, 10).cast(LongType)
    def cut(from: Int) = pmod(conv(substring(
      md5(concat(lit("fim:"), col("doc_id").cast(StringType))),
      from, 8), 16, 10).cast(LongType), L.cast(LongType)) + 1
    val (c1, c2) = (cut(1), cut(9))
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val fim = bucket < (FimRate * 65536).toLong && L >= lit(2)
    val psm = concat(lit("<PRE>"), col("text").substr(lit(1), lo - 1),
      lit("<SUF>"), col("text").substr(hi, L - hi + 1),
      lit("<MID>"), col("text").substr(lo, hi - lo))
    docs.select(col("doc_id"), fim.as("fim"),
      when(fim, psm).otherwise(col("text")).as("text_out"))
  }

  def fimQ(s: SparkSession, d: String): DataFrame =
    fimOf(Tables.documents(s, d))

  // ---------------------------------------------------------------- oracle

  private val wSql = TextAnalysis.wSql

  private[textanalysis] def gramSql(n: Int): String = {
    val parts = (0 until n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"list_transform(range(1, len(w) - ${n - 2}), i -> $parts)"
  }

  private def frac4Sql(num: String, den: String): String =
    s"floor(CAST($num AS DOUBLE) / CAST($den AS DOUBLE) * 10000 + 0.5) / 10000"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_doc_mixture" -> (mixtureQ _),
    "q_text_repetition" -> (repetitionQ _),
    "q_text_contamination" -> (contaminationQ _),
    "q_dedup_crossdoc" -> (crossdocQ _),
    "q_doc_chunks" -> (chunksQ _),
    "q_doc_shards" -> (shardsQ _),
    "q_doc_shuffle" -> (shuffleQ _),
    "q_doc_pack" -> (packQ _),
    "q_doc_fim" -> (fimQ _),
    "q_doc_wsample" -> (wsampleQ _))

  val oracles: Map[String, String] = Map(
    "q_doc_mixture" -> s"""
      WITH toks AS (
        SELECT doc_id, source, CAST(len($wSql) AS BIGINT) AS n
        FROM documents),
      src AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS tokens,
               CAST(substring(source, 4, 10) AS BIGINT) + 1 AS w
        FROM toks GROUP BY source),
      tu AS (SELECT min(CAST(tokens AS DOUBLE) / w) AS t_units FROM src),
      rates AS (
        SELECT source, w, tokens,
               least(CAST(1.0 AS DOUBLE), w * t_units / tokens) AS rate
        FROM src, tu),
      sel AS (
        SELECT t.source, CAST(count(*) AS BIGINT) AS sel_docs,
               CAST(sum(t.n) AS BIGINT) AS sel_tokens
        FROM toks t JOIN rates r ON t.source = r.source
        WHERE CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) < r.rate * 65536
        GROUP BY t.source)
      SELECT r.source, r.w, r.tokens, round(r.rate, 6) AS rate,
             coalesce(s.sel_docs, 0) AS sel_docs,
             coalesce(s.sel_tokens, 0) AS sel_tokens
      FROM rates r LEFT JOIN sel s ON r.source = s.source""",
    "q_text_repetition" -> s"""
      WITH wd AS (
        SELECT doc_id, $wSql AS w FROM documents),
      base AS (SELECT * FROM wd WHERE len(w) >= 3),
      bc AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(${gramSql(2)}) AS g FROM base)
        GROUP BY doc_id, g),
      bs AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS bi_total,
               max(c) AS bi_top
        FROM bc GROUP BY doc_id),
      tc AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(${gramSql(3)}) AS g FROM base)
        GROUP BY doc_id, g),
      ts AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS tri_total,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                 AS tri_dup
        FROM tc GROUP BY doc_id)
      SELECT doc_id,
             ${frac4Sql("bi_top", "bi_total")} AS top_bigram_frac,
             ${frac4Sql("tri_dup", "tri_total")} AS dup_trigram_frac
      FROM bs JOIN ts USING (doc_id)""",
    "q_text_contamination" -> s"""
      WITH wd AS (
        SELECT doc_id, $wSql AS w FROM documents),
      g AS (
        SELECT doc_id, unnest(list_distinct(${gramSql(ContaminationN)}))
                 AS g
        FROM wd WHERE len(w) >= $ContaminationN),
      ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(e.g) AS BIGINT) AS n_hit,
             ${frac4Sql("count(e.g)", "count(*)")} AS contamination
      FROM (SELECT * FROM g WHERE doc_id % 97 <> 0) c
      LEFT JOIN ev e USING (g)
      GROUP BY c.doc_id""",
    "q_dedup_crossdoc" -> s"""
      WITH wd AS (
        SELECT doc_id, $wSql AS w FROM documents),
      g AS (
        SELECT doc_id, unnest(list_distinct(${gramSql(CrossdocN)})) AS g
        FROM wd WHERE len(w) >= $CrossdocN),
      df AS (SELECT g, count(*) AS df FROM g GROUP BY g)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
             ${frac4Sql(
               "sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)", "count(*)")}
               AS dup_frac
      FROM g JOIN df USING (g)
      GROUP BY doc_id""",
    "q_doc_chunks" -> s"""
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
             least($ChunkLen, n - $ChunkLen * i) AS chunk_tokens
      FROM (SELECT doc_id, CAST(len($wSql) AS BIGINT) AS n
            FROM documents),
           unnest(range((n + ${ChunkLen - 1}) // $ChunkLen)) t(i)
      WHERE n > 0""",
    "q_doc_shards" -> s"""
      WITH toks AS (
        SELECT doc_id, source, CAST(len($wSql) AS BIGINT) AS n
        FROM documents),
      kept AS (SELECT * FROM toks WHERE n > 0),
      shards AS (
        SELECT source,
               CAST(ceil(CAST(sum(n) AS DOUBLE) / $ShardTokens)
                 AS BIGINT) AS n_shards
        FROM kept GROUP BY source),
      ranked AS (
        SELECT doc_id, source, n,
               CAST(row_number() OVER (
                 PARTITION BY source ORDER BY n DESC, doc_id)
                 AS BIGINT) AS rn
        FROM kept)
      SELECT r.source, (r.rn - 1) % s.n_shards AS shard_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(r.n) AS BIGINT) AS shard_tokens
      FROM ranked r JOIN shards s USING (source)
      GROUP BY r.source, (r.rn - 1) % s.n_shards""",
    "q_doc_shuffle" -> s"""
      WITH keyed AS (
        SELECT CAST(e AS INTEGER) AS epoch,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(e AS VARCHAR)), 1, 15) AS BIGINT) AS k,
               doc_id
        FROM documents, unnest(range($ShuffleEpochs)) t(e))
      SELECT epoch, k % $ShuffleShards AS shard,
             CAST(row_number() OVER (
               PARTITION BY epoch, k % $ShuffleShards
               ORDER BY k ASC, doc_id ASC) AS INTEGER) AS pos,
             doc_id
      FROM keyed""",
    "q_doc_pack" -> s"""
      WITH toks AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
                 1, 15) AS BIGINT) AS k,
               CAST(len($wSql) AS BIGINT) AS n
        FROM documents),
      sh AS (
        SELECT doc_id, k, n, k % $ShuffleShards AS shard
        FROM toks WHERE n > 0),
      c AS (
        SELECT shard, doc_id, n AS n_tokens,
               CAST(coalesce(sum(n) OVER (
                 PARTITION BY shard ORDER BY k ASC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS start_tok
        FROM sh)
      SELECT shard, doc_id, n_tokens, start_tok,
             start_tok // $PackContext AS first_window,
             start_tok % $PackContext AS window_offset,
             (start_tok + n_tokens - 1) // $PackContext
               - start_tok // $PackContext + 1 AS n_windows
      FROM c""",
    "q_doc_fim" -> s"""
      WITH c AS (
        SELECT doc_id, text, length(text) AS l,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                 AS BIGINT) AS bucket,
               (CAST('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR)),
                  1, 8) AS BIGINT) % length(text)) + 1 AS c1,
               (CAST('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR)),
                  9, 8) AS BIGINT) % length(text)) + 1 AS c2
        FROM documents),
      d AS (
        SELECT doc_id, text, l,
               bucket < ${(FimRate * 65536).toLong} AND l >= 2 AS fim,
               least(c1, c2) AS lo, greatest(c1, c2) AS hi
        FROM c)
      SELECT doc_id, fim,
             CASE WHEN fim THEN
               '<PRE>' || substring(text, 1, CAST(lo - 1 AS INT)) ||
               '<SUF>' || substring(text, CAST(hi AS INT),
                 CAST(l - hi + 1 AS INT)) ||
               '<MID>' || substring(text, CAST(lo AS INT),
                 CAST(hi - lo AS INT))
             ELSE text END AS text_out
      FROM d""",
    "q_doc_wsample" -> s"""
      WITH toks AS (
        SELECT doc_id, CAST(len($wSql) AS BIGINT) AS n_tokens
        FROM documents),
      pri AS (
        SELECT doc_id, n_tokens,
               CAST(floor(ln((CAST(CAST('0x' || substr(
                   md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 4)
                   AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE))
                 / CAST(65536.0 AS DOUBLE))
                 / n_tokens * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                 AS prio_e6
        FROM toks WHERE n_tokens > 0)
      SELECT doc_id, n_tokens, prio_e6 FROM pri
      ORDER BY prio_e6 DESC, doc_id ASC LIMIT $WSampleN""")
}
