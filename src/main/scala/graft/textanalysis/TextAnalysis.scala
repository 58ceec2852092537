package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.functions.Hashing
import graft.functions.TextExpressions.lower

/** Text-analysis operators for training-data pipelines: token/statistics
  * profiling, quality scoring, n-gram language ID, and winnowing document
  * fingerprints. All pure column expressions (codegen, no UDF, no
  * shuffle) — at 100 TB these run as a single map-only pass over the
  * corpus.
  */
object TextAnalysis {

  /** Tokenization is byte-explicit: everything outside printable ASCII
    * is folded to a space BEFORE lowering/splitting, so the hashed
    * grams can never contain multi-byte content — Spark (UTF-16 Java
    * regex) and DuckDB (UTF-8 RE2) are then trivially byte-identical.
    * Semantically a no-op for the split itself (non-ASCII chars were
    * already `[^a-z0-9]` separators); what it removes is the
    * engine-dependent risk of Unicode lower() expansions (İ → i̇)
    * leaking an engine-specific 'i' into a token.
    */
  def words(text: Column): Column =
    filter(split(lower(regexp_replace(text, "[^ -~]", " ")), "[^a-z0-9]+"),
      w => length(w) > 0)

  /** documents with the word array materialized as its own projection —
    * every downstream lambda must reference `w` as an attribute, never
    * the split expression itself (a non-attribute subtree inside a
    * lambda is re-evaluated per array element; the inlined form of the
    * winnowing fingerprint measured 780 s at sf0.1 vs ~2 s like this).
    */
  def withWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), words(col("text")).as("w"))

  private def wordsDf(s: SparkSession, d: String): DataFrame =
    withWords(Tables.documents(s, d))

  /** Tiny per-language stopword lists for the n-gram language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "es" -> Seq("el", "la", "los", "y", "de"),
    "fr" -> Seq("le", "les", "et", "une", "du"))

  def langScore(w: Column, markers: Seq[String]): Column =
    size(filter(w, x => x.isInCollection(markers)))

  def statsQ(s: SparkSession, d: String): DataFrame = {
    val w = col("w")
    // token-less documents (punctuation-only text) yield NULL ratios:
    // under Spark's default ANSI mode an unguarded /0 would crash the
    // whole query (DIVIDE_BY_ZERO), and the oracle mirrors the CASE
    val nTok = size(w)
    def safe(c: Column): Column = when(nTok > 0, c)
    wordsDf(s, d).select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(w).as("n_tokens"),
      size(array_distinct(w)).as("n_distinct"),
      safe(round(aggregate(transform(w, x => length(x)), lit(0),
        (acc, x) => acc + x).cast(DoubleType) / nTok, 4)).as("avg_token_len"),
      safe(round(size(array_distinct(w)).cast(DoubleType) / nTok, 4))
        .as("ttr"))
  }

  /** Composite quality score: length saturation, lexical diversity,
    * English-stopword band — the shape of heuristic quality filters in
    * large text-corpus pipelines.
    */
  /** The composite score over a words column — shared by the batch
    * query and the curate pipeline. NULL for token-less docs.
    */
  def qualityExpr(w: Column): Column = {
    val nTok = size(w).cast(DoubleType)
    val lenScore = least(nTok / 50.0, lit(1.0))
    val ttr = size(array_distinct(w)).cast(DoubleType) / nTok
    val stopRatio = langScore(w, LangMarkers.head._2).cast(DoubleType) / nTok
    // floor(x*1e4+0.5)/1e4 instead of round(x, 4): Spark rounds via the
    // double's shortest decimal repr (BigDecimal.valueOf) while DuckDB
    // rounds the binary value — they disagree on representation ties.
    val q4 = floor((lit(0.4) * lenScore + lit(0.3) * ttr +
      lit(0.3) * (lit(1.0) - abs(stopRatio - 0.4))) * 10000 + 0.5) / 10000
    // NULL (not a crash) for token-less docs — see statsQ
    when(size(w) > 0, q4)
  }

  def qualityQ(s: SparkSession, d: String): DataFrame =
    wordsDf(s, d).select(col("doc_id"),
      qualityExpr(col("w")).as("quality"))

  /** Language ID by marker-word counts, argmax with fixed precedence. */
  def langIdQ(s: SparkSession, d: String): DataFrame = {
    val w = col("w")
    val scored = wordsDf(s, d).select(
      (col("doc_id") +: LangMarkers.map { case (l, m) =>
        langScore(w, m).as(s"s_$l")
      }): _*)
    val best = LangMarkers.map(l => col(s"s_${l._1}")).reduce(greatest(_, _))
    val pred = LangMarkers.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"s_$l") === best && best > 0, l).otherwise(acc)
    }
    // foldRight gives earlier langs precedence on ties
    scored.select(col("doc_id"), pred.as("pred_lang"))
  }

  /** Winnowing parameters: [[FpN]]-word grams, window of [[FpWin]]
    * consecutive gram hashes per fingerprint (Schleimer et al. 2003) —
    * shared by the set form, the position form and their oracles.
    */
  val FpN = 3
  val FpWin = 4

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03): positional
    * shingle hashes → sliding min over windows of [[FpWin]]. Staged as
    * four projections (words → grams → hashes → window-mins) so each
    * lambda sees only attributes — the md5 runs once per gram, not once
    * per (gram, window) pair. Per-document fingerprint SETS —
    * (doc_id, fp array), shared by the summary query and the
    * winnowing-pair dedup channel ([[graft.dedup.DedupQueries]]
    * q_dedup_winnow).
    */
  def fingerprintSets(docs: DataFrame): DataFrame = {
    val n = FpN
    val win = FpWin
    val grams = transform(sequence(lit(0), size(col("w")) - n),
      i => concat_ws(" ",
        (0 until n).map(k => element_at(col("w"), i + k + 1)): _*))
    val mins = transform(sequence(lit(0), size(col("hs")) - win),
      i => array_min(slice(col("hs"), i + 1, lit(win))))
    // The only filter sits directly on `w`: a filter on a LATER column
    // (e.g. n_fp > 0) would be predicate-pushed below the staged
    // projections, re-inlining the whole pipeline into the filter
    // condition and making it quadratic again (measured 780 s). With
    // size(w) >= n+win-1 every kept doc has n_fp >= 1, so the
    // oracle's `len(fp) > 0` is vacuously satisfied.
    withWords(docs)
      .filter(size(col("w")) >= n + win - 1)
      .select(col("doc_id"), grams.as("g"))
      .select(col("doc_id"),
        transform(col("g"), x => Hashing.hash60(x)).as("hs"))
      .select(col("doc_id"), array_distinct(mins).as("fp"))
  }

  def fingerprintOf(docs: DataFrame): DataFrame =
    fingerprintSets(docs)
      .select(col("doc_id"), size(col("fp")).as("n_fp"),
        array_min(col("fp")).as("min_fp"), array_max(col("fp")).as("max_fp"))

  /** Position-aware winnowed fingerprints: one row per distinct
    * (doc, gram position of the window minimum, hash) — the form clone
    * EXTENT detection needs ([[graft.dedup.DedupQueries.spansQ]]):
    * the window guarantee means any cloned span ≥ [[FpWin]] grams
    * leaves samples ≤ [[FpWin]] grams apart on the clone's diagonal.
    * Ties inside a window take the FIRST minimal position
    * (array_position semantics, identical in DuckDB's list_position).
    */
  def fingerprintPositions(docs: DataFrame): DataFrame = {
    val grams = transform(sequence(lit(0), size(col("w")) - FpN),
      i => concat_ws(" ",
        (0 until FpN).map(k => element_at(col("w"), i + k + 1)): _*))
    val pf = transform(sequence(lit(0), size(col("hs")) - FpWin),
      i => struct(
        (i + array_position(slice(col("hs"), i + 1, lit(FpWin)),
          array_min(slice(col("hs"), i + 1, lit(FpWin)))) - 1)
          .cast(LongType).as("gpos"),
        array_min(slice(col("hs"), i + 1, lit(FpWin))).as("h")))
    withWords(docs)
      .filter(size(col("w")) >= FpN + FpWin - 1)
      .select(col("doc_id"), grams.as("g"))
      .select(col("doc_id"),
        transform(col("g"), x => graft.functions.Hashing.hash60(x)).as("hs"))
      // duplicates are strictly WITHIN a doc (adjacent windows picking
      // the same minimum) — array_distinct dedups doc-locally, no
      // corpus-wide distinct shuffle (measured 3.6 → ~2 s at sf0.1)
      .select(col("doc_id"), explode(array_distinct(pf)).as("pf"))
      .select(col("doc_id"), col("pf.gpos").as("gpos"), col("pf.h").as("h"))
  }

  // NO scatter here, deliberately: this pipeline is MAP-ONLY (zero
  // Exchanges, pinned by PlanShapeSpec) — at 100 TB a corpus shuffle
  // just to spread a one-row-group LOCAL scan would be scale-wrong
  // (real data has file/row-group parallelism). The scatter pattern
  // belongs only to pipelines that must shuffle anyway.
  def fingerprintQ(s: SparkSession, d: String): DataFrame =
    fingerprintOf(Tables.documents(s, d))

  /** BPE-ish pre-tokenization regex (the GPT-2 pattern family, without
    * lookahead so Java regex and RE2 agree): contractions, space-glued
    * letter runs, digit runs, punctuation runs.
    */
  val BpeTokenRe = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"

  /** Token counting two ways: whitespace tokens (the cheap budget
    * estimate) and BPE-ish regex pre-tokens (the closer-to-tokenizer
    * count). Map-only, codegen, no UDF.
    */
  def tokensQ(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
        .as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(BpeTokenRe), lit(0)))
        .as("n_bpe_tokens"))

  // ---------------------------------------------------------------- oracle

  // mirrors words(): non-printable-ASCII folded to space first ('g' =
  // replace all), then lower + split
  private[graft] val wSql =
    "list_filter(string_split_regex(lower(" +
      "regexp_replace(text, '[^ -~]', ' ', 'g')), '[^a-z0-9]+'), " +
      "x -> length(x) > 0)"

  private def markersSql(m: Seq[String]): String =
    m.map(x => s"'$x'").mkString("[", ",", "]")

  /** `fps(doc_id, fp)` CTE body mirroring [[fingerprintSets]] — shared
    * by the fingerprint oracle and the winnowing-pair oracle.
    */
  private[graft] val fpSetsSql: String = s"""fps AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(hs) - 3),
                 i -> list_min(hs[i+1:i+4]))) AS fp
        FROM (
          SELECT doc_id,
                 list_transform(
                   list_transform(range(len(w) - 2),
                     i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]),
                   g -> ${graft.functions.Hashing.hash60Sql("g")}) AS hs
          FROM (SELECT doc_id, $wSql AS w FROM documents)
          WHERE len(w) >= 6))"""

  private def scoreSql(l: String, m: Seq[String]): String =
    s"len(list_filter(w, x -> list_contains(${markersSql(m)}, x))) AS s_$l"

  private val predSql: String = {
    val best = LangMarkers.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
    LangMarkers.foldRight("'und'") { case ((l, _), acc) =>
      s"CASE WHEN s_$l = $best AND $best > 0 THEN '$l' ELSE $acc END"
    }
  }

  /** Quantile grid for the length-distribution profile. */
  val Quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  /** Exact per-language length quantiles — the corpus profile a
    * quality-filter threshold is read off of. Discrete (type-1)
    * quantiles computed positionally: the value at sorted rank
    * `ceil(q*n)` — exact, engine-portable (no reliance on a library
    * percentile's interpolation), and one shuffle: a window rank per
    * language plus a broadcast of the tiny per-language counts. At
    * 100 TB the sort is per-language-partition and the quantile grid
    * is a literal, so the plan stays a single ranked pass.
    */
  /** (lang, n, q, pos) type-1 quantile targets (`pos = ceil(q·n)`,
    * double multiply — both engines in IEEE doubles) over a
    * lang-grouped frame — shared by the exact positional query and the
    * histogram sketch so the quantile DEFINITION lives in one place.
    */
  private[textanalysis] def quantileTargets(counts: DataFrame): DataFrame =
    counts.select(col("lang"), col("n"), explode(typedLit(Quantiles)).as("q"))
      .withColumn("pos", ceil(col("q") * col("n")).cast(LongType))

  /** Exact type-1 quantile values of `x` per language at the targets. */
  private[textanalysis] def exactQuantiles(vals: DataFrame,
      targets: DataFrame): DataFrame = {
    val ranked = vals.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("x"))))
    ranked.join(broadcast(targets.select(col("lang"), col("q"),
        col("pos"))), Seq("lang"))
      .filter(col("rn") === col("pos"))
      .select(col("lang"), col("q"), col("x"))
  }

  def lengthQuantilesQ(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
      .select(col("lang"), col("n_chars").as("x"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    exactQuantiles(docs, quantileTargets(counts))
      .select(col("lang"), col("q"), col("x").as("value"))
  }

  /** TF-IDF keyword extraction: each document's top-5 terms by
    * tf · (1 + ln(N/df)) — the document-tagging / topic-signal pass of
    * a curation pipeline. Two shuffles at any scale: the (doc, term)
    * count and the term document-frequency aggregate; N is a 1-row
    * broadcast and the rank predicate folds into WindowGroupLimit.
    * Scores are emitted in 1e-6 fixed point (`score6`) so ranking and
    * hashing never compare engine-accumulated doubles.
    */
  def keywordsQ(s: SparkSession, d: String): DataFrame = {
    // the (doc, term, tf) table feeding THREE consumers (df, N, the
    // scored join) IS the stored postings index — read the
    // session-pinned artifact instead of re-tokenizing the corpus
    // behind a per-query checkpoint
    val tf = graft.search.Search.postingsCk(s, d)
      .select(col("doc_id"), col("term").as("t"), col("tf"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // n_docs from the stored postings-stats artifact (its n_docs IS
    // countDistinct(doc_id) over the same postings — dl is
    // functionally determined by doc_id): retires the third corpus
    // scan this query ran just to collect one scalar (bm25/hybrid's
    // postingsStats rule)
    val nDocs = graft.search.Search.postingsStats(s, d)._1
    val scored = tf.join(df, Seq("t"))
      .select(col("doc_id"), col("t"), col("tf"), col("df"),
        floor(col("tf") * (lit(1.0) +
          log(lit(nDocs).cast(DoubleType) / col("df").cast(DoubleType)))
          * 1e6 + lit(0.5)).cast(LongType).as("score6"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score6").desc, col("t").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_keywords" -> (keywordsQ _),
    "q_text_quantiles" -> (lengthQuantilesQ _),
    "q_text_stats" -> (statsQ _),
    "q_text_quality" -> (qualityQ _),
    "q_text_langid" -> (langIdQ _),
    "q_text_fingerprint" -> (fingerprintQ _),
    "q_text_tokens" -> (tokensQ _))

  val oracles: Map[String, String] = Map(
    "q_text_keywords" -> s"""
      WITH wd AS (SELECT doc_id, $wSql AS w FROM documents),
      tf AS (
        SELECT doc_id, t, count(*) AS tf
        FROM (SELECT doc_id, unnest(w) AS t FROM wd)
        GROUP BY doc_id, t),
      dfr AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
      nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      scored AS (
        SELECT tf.doc_id, tf.t, tf.tf, dfr.df,
               CAST(floor(tf.tf * (CAST(1.0 AS DOUBLE) +
                 ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)))
                 * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score6
        FROM tf JOIN dfr USING (t), nd)
      SELECT doc_id, t, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             score6, rn
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score6 DESC, t ASC) AS rn
            FROM scored)
      WHERE rn <= 5""",
    // the quantile grid multiplies as DOUBLE on both sides: decimal
    // arithmetic would give ceil(0.9*10)=9 where IEEE doubles give 10
    "q_text_quantiles" -> s"""
      WITH ranked AS (
        SELECT lang, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars)
                 AS rn
        FROM documents),
      counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      wanted AS (
        SELECT c.lang, CAST(q AS DOUBLE) AS q,
               CAST(ceil(CAST(q AS DOUBLE) * c.n) AS BIGINT) AS pos
        FROM counts c, unnest([${Quantiles.mkString(", ")}]) t(q))
      SELECT r.lang, w.q, r.n_chars AS value
      FROM ranked r JOIN wanted w ON r.lang = w.lang AND r.rn = w.pos""",
    "q_text_stats" -> s"""
      SELECT doc_id, length(text) AS n_chars, len(w) AS n_tokens,
             len(list_distinct(w)) AS n_distinct,
             CASE WHEN len(w) > 0 THEN
               round(CAST(list_sum(list_transform(w, x -> length(x)))
                     AS DOUBLE) / len(w), 4) END AS avg_token_len,
             CASE WHEN len(w) > 0 THEN
               round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4)
             END AS ttr
      FROM (SELECT doc_id, text, $wSql AS w FROM documents)""",
    "q_text_quality" -> s"""
      SELECT doc_id,
             CASE WHEN len(w) > 0 THEN
             floor((0.4 * least(CAST(len(w) AS DOUBLE) / 50.0, 1.0)
                 + 0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
                 + 0.3 * (1.0 - abs(
                     CAST(len(list_filter(w, x -> list_contains(
                       ${markersSql(LangMarkers.head._2)}, x))) AS DOUBLE)
                     / len(w) - 0.4))) * 10000 + 0.5) / 10000
             END AS quality
      FROM (SELECT doc_id, $wSql AS w FROM documents)""",
    "q_text_langid" -> s"""
      SELECT doc_id, $predSql AS pred_lang
      FROM (
        SELECT doc_id,
               ${LangMarkers.map { case (l, m) => scoreSql(l, m) }.mkString(",\n               ")}
        FROM (SELECT doc_id, $wSql AS w FROM documents))""",
    "q_text_fingerprint" -> s"""
      WITH $fpSetsSql
      SELECT doc_id, len(fp) AS n_fp, list_min(fp) AS min_fp,
             list_max(fp) AS max_fp
      FROM fps WHERE len(fp) > 0""",
    "q_text_tokens" -> s"""
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'),
               x -> length(x) > 0)) AS n_ws_tokens,
             len(regexp_extract_all(lower(text),
               '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+'))
               AS n_bpe_tokens
      FROM documents""")
}
