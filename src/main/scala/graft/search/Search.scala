package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.textanalysis.TextAnalysis

/** BM25 full-text retrieval over the document corpus — the classic
  * inverted-index ranking (Robertson/Spärck Jones; the Lucene
  * `(k1, b)` parameterization with the non-negative `ln(1 + ...)` idf).
  *
  * Shape at 100 TB: the postings table (doc, term, tf) is one explode +
  * hash aggregation over the corpus — the same inverted-index build as
  * the blocker's entries table; document frequencies are a second
  * map-side-combining aggregation of the postings; the query side
  * (a handful of terms joined with their idf) broadcasts, so scoring is
  * a broadcast-hash join against postings followed by one (query, doc)
  * aggregation. The corpus never self-joins and never sorts globally —
  * the only per-query work is a window over that query's candidate
  * docs (which WindowGroupLimit prunes to top-k before the final
  * exchange — the plan shows the map-side group-limit pass).
  *
  * The one deliberate demo simplification: this composes index build
  * and retrieval in a single plan, so the corpus is scanned for
  * postings, dfs and stats separately. A production deployment writes
  * the postings + df tables to the lake once (exactly like
  * [[postingsCk]] / the blocker's checkpointed TF index) and retrieval
  * touches only them — the retrieval sub-plan here is unchanged by
  * that split.
  *
  * Scores are accumulated in fixed-point (term contributions scaled to
  * 1e-6 units and floored to BIGINT before the sum): double addition is
  * not associative, so a float sum would depend on partitioning and
  * differ between engines and between retries of the same stage —
  * integer accumulation makes the ranking bit-reproducible everywhere,
  * the property a 100 TB rerank pipeline needs for auditable output.
  */
object Search {

  /** BM25 parameters: k1 saturates tf, b normalizes by document length. */
  val K1 = 1.2
  val B = 0.75
  val TopK = 10

  /** Fixed query workload (terms drawn from the corpus vocabulary). */
  val Queries: Seq[(Int, String)] = Seq(
    0 -> "spark window join",
    1 -> "customer order line",
    2 -> "slow query scan",
    3 -> "hash merge vector")

  val QueryTerms: Seq[(Int, String)] =
    Queries.flatMap { case (qid, text) => text.split(" ").map(qid -> _) }

  def bm25Q(s: SparkSession, d: String): DataFrame =
    bm25Core(s, postingsCk(s, d), QueryTerms,
      statsPre = Some(postingsStatsCk(s, d)))

  /** The inverted index, (doc, term) → tf. dl rides along in the
    * grouping key (functionally dependent on doc_id) to avoid a second
    * join against a doc-length table.
    */
  def postingsOf(docs: DataFrame): DataFrame =
    TextAnalysis.withWords(docs)
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** [[postingsOf]] with the document's `source` riding in the grouping
    * key (functionally dependent on doc_id, so the row set is
    * identical) — the ARTIFACT schema: one stored inverted index
    * serves the whole text family (BM25/hybrid, TF-IDF keywords, the
    * HLL and CMS sketches, BPE encode); each consumer column-prunes
    * the parquet scan down to what it reads. [[postingsOf]] stays for
    * bare (doc_id, text) frames (streams, soak corpora).
    */
  def postingsWithSourceOf(docs: DataFrame): DataFrame =
    // `w` materialized as its own projection before any reference (the
    // HOF-attribute rule withWords encodes; withWords itself prunes to
    // (doc_id, text, w) and would drop `source`)
    docs.select(col("source"), col("doc_id"),
        TextAnalysis.words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("source"), col("doc_id"), col("w"),
        size(col("w")).cast("long").as("dl"))
      .select(col("source"), col("doc_id"), col("dl"),
        explode(col("w")).as("term"))
      .groupBy(col("source"), col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** [[postingsOf]] the document corpus as a lake artifact — the
    * postings table is the retrieval family's stored index: built once
    * when data lands, read by both the BM25 and hybrid-RRF queries, plus a
    * read-once-then-cache session copy like the blocker TF table.
    */
  def postingsCk(s: SparkSession, d: String): DataFrame =
    graft.Caches.pinned(s, d, "postings_pinned")(
      // a pin, not localCheckpoint: the session copy of a
      // corpus-sized table belongs on local disk with lineage retained
      // (recoverable after executor loss; zero heap footprint — the
      // on-heap block tax measured in Caches.pin's scaladoc).
      //
      // Pinned doc_id-PARTITIONED: the artifact parquet is written
      // term-clustered (the groupBy order of the build), so a scan has
      // UnknownPartitioning and every (…, doc_id)-keyed aggregate
      // downstream both shuffled the full term-match stream AND got no
      // map-side collapse (each term-range task sees distinct
      // (qid, doc_id) pairs — measured 3.06M partials shuffled by the
      // hybrid sparse arm at sf0.1). The persisted copy's
      // HashPartitioning(doc_id) satisfies ClusteredDistribution for
      // any superset key set (subset rule), so bm25/hybrid per-doc
      // score aggregates now run EXCHANGE-FREE on the cached rows;
      // term-keyed consumers shuffle exactly as before. The one
      // repartition is paid at ingest (ensureAll pins this copy).
      graft.IndexLake.artifact(s, d, "postings")(
        postingsWithSourceOf(Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism,
            col("doc_id"))))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))

  /** (n_docs, avgdl) of the postings corpus as a one-row lake artifact
    * plus a per-session scalar memo: corpus statistics are INGEST
    * outputs, not query work. Before this, every hybrid invocation ran
    * the postings distinct+agg job to collect two scalars before its
    * own plan even started — ~0.5-1.0 s billed to the query at sf0.1
    * (JobCount: build=1.02 s), rebuilt on every bench repeat. At lake
    * scale the rule is the same one the TF index follows: anything a
    * query re-derives identically per corpus version belongs in the
    * lake.
    */
  def postingsStatsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "postings_stats")(
      postingsCk(s, d).select(col("doc_id"), col("dl")).distinct().agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")))

  /** The collected (n_docs, avgdl) scalars, memoized per session+dir. */
  def postingsStats(s: SparkSession, d: String): (Long, Double) =
    graft.Caches.memo(s, d, "postings_stats_scalars") {
      val r = postingsStatsCk(s, d).head()
      (r.getLong(r.fieldIndex("n_docs")), r.getDouble(r.fieldIndex("avgdl")))
    }

  def bm25Core(s: SparkSession, tf: DataFrame,
      queryTerms: Seq[(Int, String)],
      statsPre: Option[DataFrame] = None): DataFrame = {
    // (n_docs, avgdl) from the postings: docs with ≥ 1 word ⇔ docs
    // with ≥ 1 posting row, so this equals the base-table aggregate
    // the oracle computes. Callers with a stored postings artifact
    // pass the 1-row stats artifact instead (postingsStatsCk) — the
    // live recompute here cost one full corpus-distinct scan per
    // query (a 1.4 s / 32-task stage at sf0.1).
    val stats = statsPre.getOrElse(
      tf.select(col("doc_id"), col("dl")).distinct().agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")))
    // df only matters for the ≤|queryTerms| joined terms — the filter
    // reaches the parquet scan (PushedFilters), where the unrestricted
    // groupBy aggregated the whole vocabulary per query
    val dfs = tf
      .filter(col("term").isInCollection(queryTerms.map(_._2).distinct))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qt = s.createDataFrame(queryTerms).toDF("qid", "term")
    // (qid, term, idf, avgdl): ≤ |query terms| rows → broadcast side
    val qidf = broadcast(qt.join(dfs, Seq("term")).crossJoin(stats)
      .select(col("qid"), col("term"),
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)).as("idf"),
        col("avgdl")))
    // one term's BM25 contribution, in 1e-6 fixed-point units
    val termE6 = floor(
      col("idf") * ((col("tf") * lit(K1 + 1)) /
        (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * (col("dl") / col("avgdl")))))
        * lit(1e6) + lit(0.5)).cast("long")
    val scored = tf.join(qidf, Seq("term"))
      .select(col("qid"), col("doc_id"), termE6.as("e6"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("e6")).as("e6"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("e6").desc, col("doc_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select(col("qid"), col("doc_id"),
        (col("e6").cast("double") / lit(1e6)).as("score"), col("rn"))
  }

  // ------------------------------------------------------ hybrid retrieval

  /** RRF constant (Cormack/Clarke/Buettcher 2009's k=60). */
  val RrfK = 60
  /** Per-arm candidate depth and fused result depth. */
  val HybridArmK = 20
  val HybridK = 10
  /** More-like-this keyword count per query document. */
  val MltTerms = 8

  /** Hybrid (sparse + dense) retrieval with reciprocal-rank fusion —
    * the retrieval stage of a training-data pipeline that mixes lexical
    * recall with embedding recall. Query-by-document: each query doc's
    * top-[[MltTerms]] TF-IDF keywords form its lexical query (the
    * Lucene MoreLikeThis idiom), scored with the SAME BM25 core as
    * [[bm25Q]]; the dense arm is the brute cosine top-K over the
    * matching embedding ids; the fused score is
    * `Σ_arm floor(1e6 / (k + rank_arm))` — RRF in exact integer units,
    * so the fused ranking is bit-reproducible (the float RRF sum would
    * depend on join order).
    *
    * Shape at 100 TB: the query slice is bounded (1/[[graft.similarity
    * .SimilarityQueries.QueryMod]] of ids), so keywords and query idfs
    * BROADCAST; the corpus-side work is the postings build (one explode
    * + hash agg, shared with the sparse arm's scorer through Spark's
    * ReuseExchange) and the broadcast-join cosine scan — the corpus
    * never self-joins, and each arm ends in a WindowGroupLimit-pruned
    * per-query top-K, so the fusion join sees ≤ queries × [[HybridArmK]]
    * rows per side.
    */
  def hybridQ(s: SparkSession, d: String): DataFrame = {
    import graft.similarity.{Similarity, SimilarityQueries}
    val qMod = SimilarityQueries.QueryMod
    // the postings table fans out into three consumers (keywords, dfs,
    // the scorer) — served from the lake artifact's session copy, so
    // no branch re-runs the tokenize+explode+agg corpus pass
    val tf = postingsCk(s, d)
    // (n_docs, avgdl) as literal scalars from the stats lake artifact
    // (docs with ≥ 1 word ⇔ docs with ≥ 1 posting row — equal to the
    // oracle's base-table aggregate): the two literals remove the stats
    // subtree — and its agg stages — from every downstream branch, and
    // the artifact+memo removes the collect job itself from the query
    // (it billed ~0.5-1.0 s of postings distinct+agg per invocation).
    val (nDocs, avgdl) = postingsStats(s, d)
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // more-like-this keywords: per query doc, top terms by tf·idf in
    // 1e-6 fixed point (term asc tiebreak); the BM25 idf rides in the
    // same window pass — one join, one window, broadcast out
    val kwE6 = floor(col("tf") *
      log((lit(nDocs) + lit(1.0)) / (col("df") + lit(1.0))) *
      lit(1e6) + lit(0.5)).cast("long")
    val wk = Window.partitionBy(col("qid"))
      .orderBy(col("kwe6").desc, col("term").asc)
    val qidf = broadcast(tf.filter(col("doc_id") % qMod === 0)
      .join(dfs, Seq("term"))
      .select(col("doc_id").as("qid"), col("term"), kwE6.as("kwe6"),
        log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)).as("idf"))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= MltTerms)
      .select(col("qid"), col("term"), col("idf")))
    // sparse arm: the bm25Q scoring core over the keyword queries,
    // self-match excluded
    val termE6 = floor(
      col("idf") * ((col("tf") * lit(K1 + 1)) /
        (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * (col("dl") / lit(avgdl)))))
        * lit(1e6) + lit(0.5)).cast("long")
    val ws = Window.partitionBy(col("qid"))
      .orderBy(col("e6").desc, col("doc_id").asc)
    val sparse = tf.join(qidf, Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"), termE6.as("e6"))
      // NO explicit qid repartition here: r13's "one exchange serves
      // aggregate + window" pin forced every RAW term-match row through
      // the shuffle (measured 3.06M rows / 16 s cpu at sf0.1) because
      // the groupBy's map-side partial aggregation only fires when the
      // groupBy plans its own exchange — which then carries only the
      // collapsed (qid, doc_id) partials (≤ queries × docs, 80k here),
      // and the window above prunes map-side via partial
      // WindowGroupLimit (see Similarity.topkPerQid). Two small
      // exchanges beat one 40× bigger one at any scale (§2.3).
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("e6")).as("e6"))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= HybridArmK)
      .select(col("qid"), col("doc_id"), col("srn"))
    // dense arm: brute cosine top-K (the q_sim_cosine_topk machinery)
    // over the banded-corpus session copy — no per-invocation re-scan
    val p = SimilarityQueries.nearPreparedCk(s, d)
    val dense = Similarity
      .bruteTopK(p, p.filter(col("vec_id") % qMod === 0), HybridArmK)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rn").as("drn"))
    rrfFuse(sparse, dense)
  }

  /** Reciprocal-rank fusion of two ranked candidate lists
    * `(qid, doc_id, srn)` / `(qid, doc_id, drn)`:
    * `rrf_e6 = Σ_arm floor(1e6 / (RrfK + rank))`, a doc absent from an
    * arm contributing 0 (full outer join), re-ranked to the top
    * [[HybridK]] per query (doc_id asc tiebreak).
    */
  def rrfFuse(sparse: DataFrame, dense: DataFrame): DataFrame = {
    val rrfE6 = (coalesce(floor(lit(1e6) / (lit(RrfK) + col("srn"))), lit(0L)) +
      coalesce(floor(lit(1e6) / (lit(RrfK) + col("drn"))), lit(0L)))
      .cast("long")
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_e6").desc, col("doc_id").asc)
    sparse.join(dense, Seq("qid", "doc_id"), "full")
      .select(col("qid"), col("doc_id"), rrfE6.as("rrf_e6"))
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= HybridK)
  }

  // ------------------------------------------- incremental maintenance

  /** Gated incremental-maintenance scenario ([[SearchIndex]]): day-0
    * init over the non-%7 documents, one increment of NEW documents,
    * one mixed increment (the remaining new documents + RE-INGESTED
    * texts for every doc_id ≡ 3 (mod 11) base document, whose new text
    * drops most old terms — the tombstone path), then scheduled
    * compaction. The query is plain BM25 over the MAINTAINED postings
    * and stats views; the oracle recomputes BM25 from scratch over the
    * equivalent final corpus — hash equality proves the folds (upsert +
    * retraction + signed stats) land exactly where a full rebuild does.
    */
  def indexAddQ(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val isNew = col("doc_id") % 7 === 0
    val isUpd = col("doc_id") % 7 =!= 0 && col("doc_id") % 11 === 3
    val updText = concat(lit("refreshed doc "),
      substring(col("text"), 1, 40))
    val path = graft.IndexLake.stored(d, "q_search_index_add") { p =>
      val tmp = p.toString
      SearchIndex.init(s, tmp, docs.filter(!isNew))
      SearchIndex.refresh(s, tmp,
        docs.filter(isNew && col("doc_id") % 2 === 0), "v2")
      SearchIndex.refresh(s, tmp,
        docs.filter(isNew && col("doc_id") % 2 === 1)
          .unionByName(docs.filter(isUpd).withColumn("text", updText)),
        "v3")
      // production maintenance after the burst: every later read is a
      // bare scan of one folded generation per lake
      SearchIndex.maintain(s, tmp, compactEvery = 1)
    }
    bm25Core(s, SearchIndex.postings(s, path.toString), QueryTerms,
      statsPre = Some(SearchIndex.stats(s, path.toString)))
  }

  // ---------------------------------------------------------------- oracle

  private val wSql = TextAnalysis.wSql

  private def qtValues: String =
    QueryTerms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  // every fractional literal CAST to DOUBLE: DuckDB parses bare decimals
  // as DECIMAL and decimal arithmetic diverges from Spark's doubles
  private def d(x: Double): String = s"CAST($x AS DOUBLE)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_search_bm25" -> (bm25Q _),
    "q_search_hybrid" -> (hybridQ _),
    "q_search_index_add" -> (indexAddQ _))

  /** The full BM25 CTE chain over a corpus relation exposing
    * (doc_id, text) — shared by the plain-BM25 oracle (over
    * `documents`) and the index-maintenance oracle (over the
    * equivalent final corpus the folds produce).
    */
  private def bm25Sql(corpus: String): String = s"""
      WITH wd AS (SELECT doc_id, $wSql AS w FROM $corpus),
      base AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl
        FROM wd WHERE len(w) > 0),
      tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(w) AS term FROM base)
        GROUP BY doc_id, dl, term),
      stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM base),
      dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      qt(qid, term) AS (VALUES $qtValues),
      qidf AS (
        SELECT qid, q.term,
               ln((n_docs - df + ${d(0.5)}) / (df + ${d(0.5)}) + ${d(1.0)})
                 AS idf,
               avgdl
        FROM qt q JOIN dfs USING (term) CROSS JOIN stats),
      contrib AS (
        SELECT qid, doc_id,
               CAST(floor(idf * ((tf * ${d(K1 + 1)}) /
                 (tf + ${d(K1)} * (${d(1 - B)} + ${d(B)} * (dl / avgdl))))
                 * 1e6 + ${d(0.5)}) AS BIGINT) AS e6
        FROM tf JOIN qidf USING (term)),
      scored AS (
        SELECT qid, doc_id, CAST(sum(e6) AS BIGINT) AS e6
        FROM contrib GROUP BY qid, doc_id)
      SELECT qid, doc_id, CAST(e6 AS DOUBLE) / 1e6 AS score, rn
      FROM (
        SELECT qid, doc_id, e6,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY e6 DESC, doc_id) AS rn
        FROM scored)
      WHERE rn <= $TopK"""

  val oracles: Map[String, String] = Map(
    "q_search_bm25" -> bm25Sql("documents"),
    // the final corpus the maintained index must be equivalent to:
    // every document, with the re-ingested (doc_id % 11 = 3 base)
    // texts replaced the way increment v3 replaced them
    "q_search_index_add" -> bm25Sql("""(
        SELECT doc_id,
               CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 = 3
                    THEN 'refreshed doc ' || substr(text, 1, 40)
                    ELSE text END AS text
        FROM documents)"""),
    "q_search_hybrid" -> s"""
      WITH wd AS (SELECT doc_id, $wSql AS w FROM documents),
      base AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl
        FROM wd WHERE len(w) > 0),
      tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(w) AS term FROM base)
        GROUP BY doc_id, dl, term),
      stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM base),
      dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      kw AS (
        SELECT doc_id AS qid, term,
               CAST(floor(tf * ln((n_docs + ${d(1.0)}) / (df + ${d(1.0)}))
                 * 1e6 + ${d(0.5)}) AS BIGINT) AS kwe6
        FROM tf JOIN dfs USING (term) CROSS JOIN stats
        WHERE doc_id % ${graft.similarity.SimilarityQueries.QueryMod} = 0),
      qt AS (
        SELECT qid, term FROM (
          SELECT qid, term, row_number() OVER (PARTITION BY qid
            ORDER BY kwe6 DESC, term) AS rn
          FROM kw)
        WHERE rn <= $MltTerms),
      qidf AS (
        SELECT qid, q.term,
               ln((n_docs - df + ${d(0.5)}) / (df + ${d(0.5)}) + ${d(1.0)})
                 AS idf,
               avgdl
        FROM qt q JOIN dfs USING (term) CROSS JOIN stats),
      contrib AS (
        SELECT qid, doc_id,
               CAST(floor(idf * ((tf * ${d(K1 + 1)}) /
                 (tf + ${d(K1)} * (${d(1 - B)} + ${d(B)} * (dl / avgdl))))
                 * 1e6 + ${d(0.5)}) AS BIGINT) AS e6
        FROM tf JOIN qidf USING (term)
        WHERE doc_id <> qid),
      sparse AS (
        SELECT qid, doc_id, srn FROM (
          SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
            ORDER BY e6 DESC, doc_id) AS srn
          FROM (SELECT qid, doc_id, CAST(sum(e6) AS BIGINT) AS e6
                FROM contrib GROUP BY qid, doc_id))
        WHERE srn <= $HybridArmK),
      prep AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      normed AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM prep),
      dense AS (
        SELECT qid, doc_id, drn FROM (
          SELECT q.vec_id AS qid, c.vec_id AS doc_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_sum(list_transform(list_zip(q.v, c.v),
                     s -> s[1] * s[2])) / (q.nrm * c.nrm), 5) DESC,
                     c.vec_id ASC) AS drn
          FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
          WHERE q.vec_id % ${graft.similarity.SimilarityQueries.QueryMod} = 0)
        WHERE drn <= $HybridArmK),
      fused AS (
        SELECT qid, doc_id,
               CAST(COALESCE(CAST(floor(1e6 / ($RrfK + srn)) AS BIGINT), 0)
                  + COALESCE(CAST(floor(1e6 / ($RrfK + drn)) AS BIGINT), 0)
                 AS BIGINT) AS rrf_e6
        FROM sparse FULL JOIN dense USING (qid, doc_id))
      SELECT qid, doc_id, rrf_e6, rn FROM (
        SELECT qid, doc_id, rrf_e6,
               row_number() OVER (PARTITION BY qid
                 ORDER BY rrf_e6 DESC, doc_id) AS rn
        FROM fused)
      WHERE rn <= $HybridK""")
}
