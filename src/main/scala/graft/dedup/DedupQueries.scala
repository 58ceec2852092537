package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.Tables
import graft.functions.Hashing
import graft.functions.TextExpressions.lower

/** Driver-facing dedup queries over `documents` (and `part` for exact),
  * each with a DuckDB oracle mirroring the signature math exactly
  * (md5-derived 60-bit hashes + universal-hash permutations — see
  * [[graft.functions.Hashing]]).
  */
object DedupQueries {

  val ShingleN = 3
  val MinhashK = 16
  val Bands = 4
  val RowsPerBand = 4
  val JaccardThreshold = 0.8
  val SimhashBits = 60
  val SimhashBands = 6
  val SimhashBandBits = 10
  val SimhashMaxDist = 5
  val CharGramN = 4
  val CharJaccardThreshold = 0.7

  /** Exact dedup: content-hash groupBy on part names (the `dropDuplicates`
    * / statement-id set semantics of the reference, `store/memory.py:37-39`).
    */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy(md5(lower(col("p_name"))).as("h"))
      .agg(count(lit(1)).as("n"), min(col("p_partkey")).as("canonical"))
      .filter(col("n") > 1)

  /** Shingles via two projections — words materialized before the gram
    * lambda so the split runs once per doc (see
    * [[Dedup.shinglesFromWords]]). The doc filter is on `w`, NOT on the
    * shingle column: a filter on `s` would be predicate-pushed below the
    * projection and re-inline the gram pipeline into its condition
    * (size(w) >= n ⇔ shingles non-empty, so the semantics are equal).
    */
  private def shingleDfOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .filter(size(col("w")) >= ShingleN)
      .select(col("doc_id"),
        Dedup.shinglesFromWords(col("w"), ShingleN).as("s"))

  /** Shingles + their md5-derived hashes as a separate projection: `hs`
    * is non-cheap and multiply-referenced downstream, so CollapseProject
    * keeps it materialized — the md5 runs exactly once per shingle.
    */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame =
    shingleDfOf(docs)
      .withColumn("hs", transform(col("s"), x => Hashing.hash60(x)))

  def minhashSigs(s: SparkSession, d: String): DataFrame =
    shinglesCk(s, d)
      .select(col("doc_id"),
        Dedup.minhashSigFromHashes(col("hs"), MinhashK).as("sig"))

  def minhashQ(s: SparkSession, d: String): DataFrame =
    minhashSigs(s, d)
      .select(col("doc_id"), concat_ws("-", col("sig")).as("sig"))

  /** MinHash-LSH candidate pairs verified with true shingle Jaccard.
    *
    * The shingle+hash table feeds three plan branches (signature →
    * candidates, and both verify sides); the gated query reads it
    * from the lake ([[shinglesCk]] — built once at ingest), the
    * arbitrary-docs path materializes it once via [[parShingles]].
    */
  def lshPairsQ(s: SparkSession, d: String): DataFrame =
    lshPairsCk(s, d)

  /** The VERIFIED word-shingle near-dup pair table as a lake artifact:
    * dedup runs once per corpus version in production — the pair list
    * is the product every downstream consumer (cluster closure, fusion,
    * curation drops) reads, exactly like the blocker's TF index. The
    * DuckDB oracle still re-derives it from raw text end to end.
    */
  def lshPairsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "lsh_pairs")(
      lshPairsFrom(shinglesCk(s, d)))

  /** Shingle+hash table materialized once, in parallel, for an
    * arbitrary docs frame (specs, soaks, curate): the raw
    * docs scatter FIRST (cheap bytes, explicit partition count so AQE
    * cannot coalesce the CPU-heavy projection onto one task — the sf
    * tables are one row group), the shingle/md5 projection runs
    * post-shuffle on every core, and one materialization (`keep`: a
    * checkpoint the returned frame reads, or the caller's persist)
    * stops the three downstream branches from re-deriving it. For the
    * gated corpus queries the same table is a lake artifact instead —
    * [[shinglesCk]].
    */
  private def parShingles(docs: DataFrame,
      keep: DataFrame => DataFrame = graft.Caches.checkpoint): DataFrame =
    keep(hashedShinglesOf(docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))))

  def lshPairsOf(docs: DataFrame): DataFrame =
    lshPairsFrom(parShingles(docs))

  private def lshPairsFrom(sh: DataFrame): DataFrame = {
    val sigs = sh.select(col("doc_id"),
      Dedup.minhashSigFromHashes(col("hs"), MinhashK).as("sig"))
    val cand = Dedup.lshCandidates(sigs, "doc_id", Bands, RowsPerBand)
    Dedup.withJaccard(cand, sh, "doc_id", "s")
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** Character n-gram Jaccard near-dup pairs: the same minhash-LSH
    * candidate machinery as [[lshPairsQ]], but over distinct char
    * [[CharGramN]]-grams instead of word shingles — robust to
    * whitespace/tokenization noise that word shingles miss.
    *
    * Grams are packed into integers arithmetically (4 ASCII codes → one
    * BIGINT) instead of hashed: `substring(t, i, n)` per position is
    * O(i) on UTF8String (boundary scan from the start), so per-position
    * slice extraction is O(len²) per document — measured 77 s at sf0.1
    * vs ~2 s for the packed form. The char codes are materialized once
    * per row (staged projection per the HOF rules), every gram is then
    * four O(1) `element_at`s, and minhash permutes the packed value
    * directly — no md5 anywhere in the pipeline.
    */
  def ngramJaccardQ(s: SparkSession, d: String): DataFrame =
    ngramPairsCk(s, d)

  /** The verified char-gram near-dup pair table as a lake artifact —
    * the char-channel sibling of [[lshPairsCk]].
    */
  def ngramPairsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "ngram_pairs")(
      ngramPairsOf(charGramsCk(s, d)))

  private def ngramPairsOf(cg: DataFrame): DataFrame = {
    val sigs = cg.select(col("doc_id"),
      Dedup.minhashSigFromHashes(col("cg"), MinhashK).as("sig"))
    val cand = Dedup.lshCandidates(sigs, "doc_id", Bands, RowsPerBand)
    // floor-form rounding: Spark and DuckDB round() disagree on decimal
    // ties, and char-gram unions are large enough to land on them
    Dedup.withJaccard(cand, cg, "doc_id", "cg")
      .select(col("a"), col("b"),
        (floor(col("jaccard") * 10000 + 0.5) / 10000).as("jaccard"))
      .filter(col("jaccard") >= CharJaccardThreshold)
  }

  /** Incremental (delta-vs-corpus) near-dup check — the production mode
    * of dedup at 100 TB: a new ingest batch (`doc_id % 10 == 7` stands
    * in for the delta) is screened against the existing corpus without
    * ever re-pairing the corpus with itself. Candidates come only from
    * delta×corpus band collisions, so the corpus side contributes
    * exactly its bucket rows — at scale those are precomputed
    * signatures read from the lake, bucketed on the band key, while the
    * small delta drives the join. Each delta doc reports its best
    * existing match (highest verified Jaccard, smallest id on ties);
    * docs with no row are genuinely new.
    */
  def incrementalQ(s: SparkSession, d: String): DataFrame =
    incrementalFrom(shinglesCk(s, d))

  def incrementalOf(docs: DataFrame): DataFrame =
    incrementalFrom(parShingles(docs))

  private def incrementalFrom(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigs = sh.select(col("doc_id"),
      Dedup.minhashSigFromHashes(col("hs"), MinhashK).as("sig"))
    // each capped bucket pairs its delta docs with its base docs only
    val cand = Dedup.cappedPairs(
        Dedup.lshBuckets(sigs, "doc_id", Bands, RowsPerBand),
        Seq("band", "key"), Dedup.LshBucketCap, col("doc_id"))(
      Dedup.idPair,
      p => p.getField("a") % 10 === 7 && p.getField("b") % 10 =!= 7)
      .distinct()
    val w = Window.partitionBy(col("a"))
      .orderBy(col("jaccard").desc, col("b").asc)
    Dedup.withJaccard(cand, sh, "doc_id", "s")
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a").as("doc_id"), col("b").as("dup_of"), col("jaccard"))
  }

  /** Cluster assignments over the stored verified pair list as a lake
    * artifact — components are derived resolver-state, computed once
    * per corpus version (the union-find fast path otherwise billed
    * ~0.5 s of driver collect into every invocation).
    */
  def clusterCcCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "dedup_components")(
      ccOf(lshPairsCk(s, d)))

  /** Near-dup cluster closure — the step a training-data dedup actually
    * ends with: verified LSH pairs → connected components → one
    * surviving representative per cluster (longest text wins, smallest
    * id breaks ties — "keep the richest copy"). Emits one row per
    * clustered doc: `(doc_id, canonical, keep)`; unclustered docs are
    * implicitly kept and not listed.
    *
    * Scale shape: the pair list is tiny relative to the corpus (it IS
    * the near-dup set), so the component step runs on edges only —
    * driver union-find under 2M edges, pointer-doubled propagation
    * above — and the election is one window per cluster over the
    * members, never touching unclustered documents.
    */
  def clustersQ(s: SparkSession, d: String): DataFrame =
    clustersFrom(clusterCcCk(s, d), Tables.documents(s, d))

  /** [[clustersQ]] over an arbitrary docs frame. The shingle table is
    * persisted only until the components are built (they are collected
    * or checkpointed), so the call leaves nothing persisted.
    */
  def clustersOf(docs: DataFrame): DataFrame = graft.Caches.holding(held =>
    clustersFrom(ccOf(lshPairsFrom(parShingles(docs, held.persist))), docs))

  private def ccOf(lshPairs: DataFrame): DataFrame =
    graft.resolver.Resolver.connectedComponents(lshPairs.select(
      col("a").cast(StringType).as("src"), col("b").cast(StringType).as("dst")))

  private def clustersFrom(cc: DataFrame, docs: DataFrame): DataFrame =
    elect(cc, docs.select(col("doc_id").cast(StringType).as("id"),
      length(col("text")).as("len")))

  /** Survivor election over `(id, cluster)` components and `(id, len)`
    * lengths: one window per cluster ordered `len desc, id asc` — its
    * first row is the canonical (longest text, min id on ties). Emits
    * `(doc_id, canonical, keep)` per clustered member. A NULL length
    * sorts last; a cluster of NULL lengths only (never built by the
    * pipelines: a NULL text has no shingles, so it never pairs) elects
    * its min id.
    */
  private[graft] def elect(cc: DataFrame, len: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("len").desc, col("id").asc)
    cc.join(len, Seq("id"))
      .withColumn("canonical", first(col("id")).over(w))
      .select(col("id").as("doc_id"), col("canonical"),
        (col("id") === col("canonical")).as("keep"))
  }

  /** Split fraction boundaries (percent buckets): <90 train, <95 val,
    * else test.
    */
  val SplitTrainLt = 90L
  val SplitValLt = 95L

  /** Leakage-free train/val/test split — a training-data pipeline
    * assigns splits by NEAR-DUP GROUP, not by document: hashing doc
    * ids directly puts near-duplicates of a test document into train
    * (the classic contamination channel benchmark decontamination
    * exists to catch after the fact). Here the split key is the
    * document's dedup-cluster canonical (its own id when unclustered),
    * so a whole near-dup cluster lands in ONE split by construction.
    * Deterministic md5 percent-bucket, the engine's standard hash-split
    * idiom (proven DuckDB-parity in the LM train gate). Map-only over
    * the corpus plus one broadcast-sized join against the stored
    * cluster table.
    */
  def splitQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id").cast(StringType).as("doc_id"))
    val canon = clustersQ(s, d).select(col("doc_id"), col("canonical"))
    val keyed = docs.join(canon, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("doc_id")).as("group_key"))
    val bucket = conv(substring(md5(col("group_key")), 1, 4), 16, 10)
      .cast(LongType) % 100
    keyed.select(col("doc_id"), col("group_key"),
      when(bucket < SplitTrainLt, "train")
        .when(bucket < SplitValLt, "val")
        .otherwise("test").as("split"))
  }

  /** Per-language sampling rates for the stratified corpus mix —
    * downsample the dominant language, keep the tail whole.
    */
  val SampleRates: Map[String, Double] = Map(
    "en" -> 0.5, "zh" -> 0.8, "es" -> 0.8, "de" -> 1.0, "fr" -> 1.0)

  /** Deterministic stratified sampling — the reproducible corpus-mix
    * step of a training-data pipeline. `sampleBy` draws from a seeded
    * RNG (non-reproducible across engines and partitionings); this
    * keys the keep decision on a content hash instead: a doc survives
    * iff the first 15 bits of `md5(doc_id)` fall under its stratum's
    * rate. Same doc → same decision, on any engine, any partitioning,
    * any subset of the corpus — the property that matters when a 100 TB
    * mix must be re-derivable. Map-only, no shuffle, no state.
    */
  def sampleQ(s: SparkSession, d: String): DataFrame = {
    val rates = typedLit(SampleRates)
    val bucket = conv(substring(
      md5(col("doc_id").cast(StringType)), 1, 4), 16, 10).cast(LongType)
    Tables.documents(s, d)
      .withColumn("rate", element_at(rates, col("lang")))
      .filter(col("rate").isNotNull &&
        bucket < col("rate") * 65536)
      .select(col("doc_id"), col("lang"))
  }

  def simhashQ(s: SparkSession, d: String): DataFrame =
    simhashSigsCk(s, d)

  def simhashPairsQ(s: SparkSession, d: String): DataFrame =
    // the sig table arrives as a 32-file lake scan (two longs per doc)
    // — the banding fan-out re-scans it instead of pinning
    Dedup.simhashPairsFrom(simhashSigsCk(s, d), "doc_id", SimhashBands,
      SimhashBandBits, SimhashMaxDist)

  // ---------------------------------------------------------------- oracle

  /** Minhash signature list over a hashed-values column: one formula,
    * instantiated for the word-shingle (`hs`) and char-gram (`cg`)
    * pipelines so the permute plumbing cannot diverge between them.
    */
  private def sigListOver(hashCol: String): String =
    (0 until MinhashK).map(j =>
      s"list_min(list_transform($hashCol, h -> " +
        Hashing.permuteSql("h", j) + "))")
      .mkString("[", ",\n          ", "]")

  private val sigList: String = sigListOver("hs")
  private val csigList: String = sigListOver("cg")

  /** Band-key selects over a signature CTE — shared by both minhash
    * pipelines (same bands/rows split).
    */
  private def bandSelectsFrom(cte: String): String = (0 until Bands).map { b =>
    val lo = b * RowsPerBand + 1
    val hi = (b + 1) * RowsPerBand
    s"SELECT doc_id, $b AS band, array_to_string(sig[$lo:$hi], '-') AS key FROM $cte"
  }.mkString("\n      UNION ALL ")

  private val bandSelects: String = bandSelectsFrom("mh")
  private val charBandSelects: String = bandSelectsFrom("cmh")

  private val simBandSelects: String = (0 until SimhashBands).map { i =>
    val mask = (1L << SimhashBandBits) - 1
    s"SELECT doc_id, simhash, $i AS band, (simhash >> ${SimhashBandBits * i}) & $mask AS key FROM sims"
  }.mkString("\n      UNION ALL ")

  val ctePrefix: String = s"""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(len(w) - ${ShingleN - 1}),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
      FROM words WHERE len(w) >= $ShingleN
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(s, x -> ${Hashing.hash60Sql("x")}) AS hs
      FROM sh
    ),
    mh AS (
      SELECT doc_id, $sigList AS sig FROM hashed
    ),
    buckets AS (
      $bandSelects
    ),
    kept AS (
      SELECT b.* FROM buckets b
      JOIN (SELECT band, key FROM buckets GROUP BY band, key
            HAVING count(*) <= ${Dedup.LshBucketCap}) f
        USING (band, key)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM kept l JOIN kept r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    wc AS (
      SELECT doc_id, x AS word, count(*) AS cnt
      FROM (SELECT doc_id, unnest(w) AS x FROM words)
      GROUP BY doc_id, x
    ),
    wh AS (
      SELECT doc_id, cnt, ${Hashing.hash60Sql("word")} AS whash FROM wc
    ),
    votes AS (
      SELECT doc_id, bit,
             sum(cnt * (((whash >> bit) & 1) * 2 - 1)) AS vote
      FROM wh, unnest(range($SimhashBits)) t(bit)
      GROUP BY doc_id, bit
    ),
    sims AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    sbuckets AS (
      $simBandSelects
    ),
    skept AS (
      SELECT b.* FROM sbuckets b
      JOIN (SELECT band, key FROM sbuckets GROUP BY band, key
            HAVING count(*) <= ${Dedup.LshBucketCap}) f
        USING (band, key)
    ),
    ccodes AS (
      SELECT doc_id,
             list_transform(string_split(lower(text), ''),
               c -> CAST(ascii(c) AS BIGINT)) AS cs
      FROM documents
      WHERE length(text) >= $CharGramN
    ),
    cgrams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(len(cs) - ${CharGramN - 1}),
               i -> cs[i+1] * 16777216 + cs[i+2] * 65536
                    + cs[i+3] * 256 + cs[i+4])) AS cg
      FROM ccodes
    ),
    cmh AS (
      SELECT doc_id, $csigList AS sig FROM cgrams
    ),
    cbuckets AS (
      $charBandSelects
    ),
    ckept AS (
      SELECT b.* FROM cbuckets b
      JOIN (SELECT band, key FROM cbuckets GROUP BY band, key
            HAVING count(*) <= ${Dedup.LshBucketCap}) f
        USING (band, key)
    ),
    ccand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM ckept l JOIN ckept r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    )
    """

  /** Multi-modal fusion dedup: the full outer join of the two verified
    * near-dup channels — word-shingle Jaccard pairs ([[lshPairsQ]],
    * surface text) and embedding-cosine pairs
    * ([[graft.similarity.SimilarityQueries.embedNearPairs]], semantic)
    * — with per-pair provenance. Surface dedup misses paraphrases,
    * embedding dedup misses verbatim boilerplate below the cosine
    * floor; a curation pipeline acts on the union and audits by the
    * `evidence` column. Pure composition: both channels keep their
    * bucketed no-all-pairs shapes, the fusion is one equi-join on the
    * pair key.
    */
  def fusedQ(s: SparkSession, d: String): DataFrame = {
    val txt = lshPairsQ(s, d)
    val emb = graft.similarity.SimilarityQueries.embedNearPairs(s, d)
    txt.join(emb, Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"), col("jaccard"), col("cosine"),
        when(col("jaccard").isNotNull && col("cosine").isNotNull,
          lit("both"))
          .when(col("jaccard").isNotNull, lit("text"))
          .otherwise(lit("embedding")).as("evidence"))
  }

  /** Winnowing-pair frequency cap: a fingerprint shared by more
    * documents than this is boilerplate and is dropped before pair
    * generation — the skew guard that bounds any key's fan-out
    * (the blocker stopword rationale, applied to fingerprints).
    */
  val WinnowDfCap = 20L

  /** Minimum shared rare fingerprints for a candidate pair. */
  val WinnowMinShared = 2L

  /** Winnowing near-dup pairs (Schleimer et al., SIGMOD'03 — the MOSS
    * channel): documents sharing ≥ [[WinnowMinShared]] rare winnowed
    * fingerprints ([[TextAnalysis.fingerprintSets]]), reported with
    * the full fingerprint-set Jaccard. Position-aware window-min
    * sampling makes this channel sensitive to contiguous cloned spans
    * that bag-of-shingles minhash dilutes. Same scale shape as every
    * other channel: explode → frequency cap → in-bucket pairs
    * ([[Dedup.cappedPairs]]) → pair aggregate; no fingerprint can fan
    * out more than [[WinnowDfCap]]².
    */
  // Lake artifacts, not lineage, for the fingerprint tables: the
  // build is a staged HOF pipeline fanned out several ways (the
  // capped explode, both jaccard set sides, the spans hit join) —
  // lineage reuse re-inlines the staged projections per consumer and
  // the plan goes quadratic (measured: subset verify 200+ s at sf0.01
  // vs ~2 s materialized). The winnow + spans queries share them, and
  // at lake scale the fingerprint table IS a materialized ingest
  // artifact (the PQ-codes / banded-corpus / blocker-TF pattern).
  // read-once-then-cache on top of the lake artifact (the near_banded
  // pattern): the winnow/spans queries fan each table out several ways
  // and the arrays decode expensively from parquet per consumer. Each
  // pin's memo name differs from its artifact's (see Caches.memo).
  def fpSetsCk(s: SparkSession, d: String): DataFrame =
    graft.Caches.pinned(s, d, "fp_sets_pinned")(
      graft.IndexLake.artifact(s, d, "fp_sets")(
        graft.textanalysis.TextAnalysis.fingerprintSets(
          Tables.documents(s, d))))

  def fpPosCk(s: SparkSession, d: String): DataFrame =
    graft.Caches.pinned(s, d, "fp_pos_pinned")(
      graft.IndexLake.artifact(s, d, "fp_pos")(
        graft.textanalysis.TextAnalysis.fingerprintPositions(
          Tables.documents(s, d))))

  /** Scatter raw docs (cheap bytes) before a CPU-heavy projection so
    * the ingest build runs on every core instead of the one-row-group
    * scan task.
    */
  private def scattered(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** The word-shingle+hash table as a fingerprint-keyed lake artifact
    * (doc_id, s, hs) — built once at ingest like the winnow fp tables,
    * read-once-then-pinned per session (the arrays decode expensively
    * from parquet and every minhash query fans the table ≥3 ways). The
    * lake copy replaces the per-query eager localCheckpoint: no
    * per-invocation corpus rebuild, and no non-recoverable executor
    * blocks holding the only copy mid-pipeline.
    */
  def shinglesCk(s: SparkSession, d: String): DataFrame =
    graft.Caches.pinned(s, d, "shingles_pinned")(
      graft.IndexLake.artifact(s, d, "shingles")(
        hashedShinglesOf(scattered(s, d))))

  /** Packed char-[[CharGramN]]-gram table (doc_id, cg) as a lake
    * artifact — the char-channel sibling of [[shinglesCk]].
    */
  def charGramsCk(s: SparkSession, d: String): DataFrame =
    graft.Caches.pinned(s, d, "char_grams_pinned")(
      graft.IndexLake.artifact(s, d, "char_grams") {
        val n = CharGramN
        // one pass: char array → codes (lambda only touches its own
        // variable); grams pack arithmetically — see ngramJaccardQ
        val codes = transform(split(lower(col("text")), ""),
          c => ascii(c).cast(LongType))
        val gram = transform(sequence(lit(1), size(col("cs")) - (n - 1)),
          i => element_at(col("cs"), i) * 16777216L +
            element_at(col("cs"), i + 1) * 65536L +
            element_at(col("cs"), i + 2) * 256L +
            element_at(col("cs"), i + 3))
        scattered(s, d)
          .select(col("doc_id"), codes.as("cs"))
          .filter(size(col("cs")) >= n)
          .select(col("doc_id"), array_distinct(gram).as("cg"))
      })

  /** SimHash signature table (doc_id, simhash) as a lake artifact —
    * two longs per doc; no session pin needed, consumers column-prune
    * the parquet scan directly.
    */
  def simhashSigsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "simhash_sigs")(
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text", SimhashBits))

  /** Exploded [[SubstrK]]-gram position table for the ExactSubstr pass
    * (doc_id, total_grams, gpos, h) — one row per token position, the
    * relational analogue of the suffix array Lee et al. materialize
    * before their dedup pass; exactly the kind of table a 100 TB
    * ingest writes once and every curation run reads.
    */
  def substrPosCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "substr_pos")(
      substrPosOf(scattered(s, d)))

  def winnowPairsQ(s: SparkSession, d: String): DataFrame = {
    val fps = fpSetsCk(s, d)
    // one explode and one fingerprint exchange: boilerplate
    // fingerprints (df > WinnowDfCap) are dropped before any pair
    // fan-out, and a pair survives on WinnowMinShared rare hits
    val cand = Dedup.cappedPairs(
        fps.select(col("doc_id"), explode(col("fp")).as("h")),
        Seq("h"), WinnowDfCap, col("doc_id"))(Dedup.idPair, Dedup.ascending)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
    Dedup.withJaccard(cand, fps, "doc_id", "fp")
      .select(col("a"), col("b"), col("shared"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Minimum same-diagonal samples for a reported clone span. */
  val SpanMinFp = 2

  /** Clone-span EXTENTS per document pair — the MOSS-style step after
    * winnowing flags a pair: where and how long are the cloned spans?
    * Shared rare fingerprints carry their gram positions
    * ([[graft.textanalysis.TextAnalysis.fingerprintPositions]]); a
    * clone preserves the offset between the two documents, so its
    * samples line up on ONE diagonal (pa − pb constant), at most
    * [[graft.textanalysis.TextAnalysis.FpWin]] grams apart (the
    * winnowing window guarantee). Spans are therefore gap-≤-window
    * clusters of same-diagonal hits — lag + running-sum windows over
    * the (pair, diagonal) partitions, rows bounded by the df-capped
    * hit join, never the corpus. Reported per pair: span count and the
    * longest extent in grams (≥ [[SpanMinFp]] samples each).
    */
  def spansQ(s: SparkSession, d: String): DataFrame =
    cloneSpansCk(s, d)

  /** The per-pair clone-span extent table as a lake artifact — the
    * MOSS product table, derived from the stored fp positions once per
    * corpus version (same doctrine as [[lshPairsCk]]; the oracle
    * re-derives it from raw text).
    */
  def cloneSpansCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "clone_spans")(
      spansFrom(fpPosCk(s, d)))

  def spansOf(docs: DataFrame): DataFrame =
    // materialize once before the fan-out (df aggregate + both join sides)
    spansFrom(graft.Caches.checkpoint(
      graft.textanalysis.TextAnalysis.fingerprintPositions(docs)))

  private def spansFrom(pos: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = graft.textanalysis.TextAnalysis.FpN
    val win = graft.textanalysis.TextAnalysis.FpWin
    val rare = pos.join(
      pos.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") <= WinnowDfCap),
      Seq("h"))
    val hits = rare.select(col("h"), col("doc_id").as("a"),
        col("gpos").as("pa"))
      .join(rare.select(col("h"), col("doc_id").as("b"),
        col("gpos").as("pb")), Seq("h"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
      .distinct()
    val wOrd = Window.partitionBy(col("a"), col("b"), col("diag"))
      .orderBy(col("pa"))
    val spans = hits
      .withColumn("prev", lag(col("pa"), 1).over(wOrd))
      .withColumn("brk", when(col("prev").isNull ||
        col("pa") - col("prev") > win, 1).otherwise(0))
      .withColumn("span", sum(col("brk")).over(wOrd))
      .groupBy(col("a"), col("b"), col("diag"), col("span"))
      .agg((max(col("pa")) - min(col("pa")) + n).as("span_grams"),
        count(lit(1)).as("n_fp"))
    spans.filter(col("n_fp") >= SpanMinFp)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("span_grams")).as("longest_span_grams"))
  }

  /** Gram width for [[substrQ]] — a duplicated substring must span at
    * least this many tokens to be reported (Lee et al. use 50 BPE
    * tokens at web scale; the synthetic corpus is short-doc).
    */
  val SubstrK = 8

  /** EXACT duplicated-substring detection (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr pass, relationally): every [[SubstrK]]-token gram
    * occurring ≥2 times in the corpus marks its positions duplicated;
    * maximal runs of consecutive duplicated positions in a document
    * are exactly its substrings of ≥ SubstrK tokens that appear
    * elsewhere (either corpus-wide or repeated within the doc). Emits
    * per affected document: span count, duplicated-gram count and
    * fraction, and the longest duplicated extent in tokens.
    *
    * Complements the sampled channels: winnowing sees ~1/FpWin of
    * grams, minhash sees none positionally — this pass is exact, and
    * unlike every pair channel it is LINEAR by construction: the hot
    * set is a grouped aggregate and the duplicate marking is a
    * position-row left-semi join against it — no pair fan-out exists
    * to cap, so boilerplate cannot blow it up (a gram shared by a
    * million docs still marks each position exactly once).
    */
  def substrQ(s: SparkSession, d: String): DataFrame =
    substrFrom(substrPosCk(s, d))

  def substrOf(docs: DataFrame): DataFrame =
    // materialize once before the fan-out (df aggregate + the semi-join)
    substrFrom(graft.Caches.checkpoint(substrPosOf(docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col("doc_id")))))

  /** The exploded gram-position rows behind [[substrQ]] — positions
    * exploded FIRST, gram hash as a plain per-row projection after the
    * Generate: an array-HOF building the gram hashes was measured 8×
    * slower here (the generator re-evaluated the lambda per output
    * row: 32.5 s vs 4.7 s at sf0.1). Callers scatter the docs first so
    * the explode+hash runs on every core (see [[parShingles]]).
    */
  private def substrPosOf(docs: DataFrame): DataFrame = {
    val n = SubstrK
    graft.textanalysis.TextAnalysis.withWords(docs)
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), col("w"),
        (size(col("w")) - (n - 1)).cast(LongType).as("total_grams"))
      .select(col("doc_id"), col("total_grams"), col("w"),
        explode(sequence(lit(0), size(col("w")) - n)).as("gpos"))
      .select(col("doc_id"), col("total_grams"), col("gpos"),
        Hashing.hash60(concat_ws(" ",
          (0 until n).map(k =>
            element_at(col("w"), col("gpos") + k + 1)): _*)).as("h"))
  }

  private def substrFrom(pos: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = SubstrK
    // hot-gram marking as a window count on one h-exchange — the
    // former df-aggregate + semi-join scanned the stored position
    // table twice (AQE never reuses the twin exchanges)
    val dup = pos
      .repartition(pos.sparkSession.sparkContext.defaultParallelism,
        col("h"))
      .withColumn("hdf", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("hdf") >= 2)
      .drop("hdf")
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("gpos"))
    val spans = dup
      .withColumn("prev", lag(col("gpos"), 1).over(wOrd))
      .withColumn("brk", when(col("prev").isNull ||
        col("gpos") - col("prev") > 1, 1).otherwise(0))
      .withColumn("span", sum(col("brk")).over(wOrd))
      .groupBy(col("doc_id"), col("total_grams"), col("span"))
      .agg(count(lit(1)).as("ng"),
        (max(col("gpos")) - min(col("gpos")) + n).cast(LongType)
          .as("span_tokens"))
    spans.groupBy(col("doc_id"), col("total_grams"))
      .agg(count(lit(1)).as("n_spans"), sum(col("ng")).as("dup_grams"),
        max(col("span_tokens")).as("longest_span_tokens"))
      .select(col("doc_id"), col("n_spans"), col("dup_grams"),
        col("longest_span_tokens"),
        (floor(col("dup_grams").cast(DoubleType) /
          col("total_grams").cast(DoubleType) * 10000 + 0.5) / 10000)
          .as("dup_frac"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_substr" -> (substrQ _),
    "q_dedup_spans" -> (spansQ _),
    "q_dedup_winnow" -> (winnowPairsQ _),
    "q_dedup_fused" -> (fusedQ _),
    "q_dedup_exact" -> (exactDedup _),
    "q_dedup_minhash" -> (minhashQ _),
    "q_dedup_lsh_pairs" -> (lshPairsQ _),
    "q_dedup_incremental" -> (incrementalQ _),
    "q_dedup_clusters" -> (clustersQ _),
    "q_dedup_split" -> (splitQ _),
    "q_doc_sample" -> (sampleQ _),
    "q_dedup_simhash" -> (simhashQ _),
    "q_dedup_simhash_pairs" -> (simhashPairsQ _),
    "q_dedup_ngram_jaccard" -> (ngramJaccardQ _))

  /** The verified-pair → components → canonical CTE chain shared by
    * the clusters and split oracles so the two cannot drift.
    */
  private val clusterCtes: String = s""",
      vpairs AS (
        SELECT CAST(a AS VARCHAR) AS a, CAST(b AS VARCHAR) AS b FROM (
          SELECT c.a, c.b,
                 round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / (len(sa.s) + len(sb.s)
                      - len(list_intersect(sa.s, sb.s))), 4) AS jaccard
          FROM cand c
          JOIN sh sa ON c.a = sa.doc_id
          JOIN sh sb ON c.b = sb.doc_id)
        WHERE jaccard >= $JaccardThreshold
      ),
      dverts AS (SELECT a AS id FROM vpairs UNION SELECT b FROM vpairs),
      dsym AS (SELECT a AS src, b AS dst FROM vpairs
               UNION SELECT b, a FROM vpairs),
      dreach AS (
        SELECT id, id AS lbl FROM dverts
        UNION
        SELECT s.dst AS id, r.lbl FROM dreach r JOIN dsym s ON s.src = r.id
      ),
      dcc AS (SELECT id, min(lbl) AS cluster FROM dreach GROUP BY id),
      dwl AS (
        SELECT dcc.id, dcc.cluster, length(d.text) AS len
        FROM dcc JOIN documents d ON CAST(d.doc_id AS VARCHAR) = dcc.id
      ),
      dml AS (SELECT cluster, max(len) AS mlen FROM dwl GROUP BY cluster),
      dcanon AS (
        SELECT w.cluster, min(w.id) AS canonical
        FROM dwl w JOIN dml m ON w.cluster = m.cluster AND w.len = m.mlen
        GROUP BY w.cluster
      )"""

  /** Verified word-shingle pair SELECT body — shared by its own oracle
    * and the fused oracle so the two cannot drift.
    */
  private val lshPairsBody: String = s"""
      SELECT a, b, jaccard FROM (
        SELECT c.a, c.b,
               round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))),
                 4) AS jaccard
        FROM cand c
        JOIN sh sa ON c.a = sa.doc_id
        JOIN sh sb ON c.b = sb.doc_id)
      WHERE jaccard >= $JaccardThreshold"""

  private val spanGramSql: String = {
    val n = graft.textanalysis.TextAnalysis.FpN
    (0 until n).map(k => s"w[i+${k + 1}]").mkString(" || ' ' || ")
  }

  private val substrGramSql: String =
    (0 until SubstrK).map(k => s"w[i+${k + 1}]").mkString(" || ' ' || ")

  val oracles: Map[String, String] = Map(
    "q_dedup_substr" -> s"""
      WITH wd AS (
        SELECT doc_id, ${graft.textanalysis.TextAnalysis.wSql} AS w
        FROM documents),
      base AS (
        SELECT doc_id, w, CAST(len(w) - ${SubstrK - 1} AS BIGINT)
                 AS total_grams
        FROM wd WHERE len(w) >= $SubstrK),
      g AS (
        SELECT doc_id, total_grams,
               list_transform(range(len(w) - ${SubstrK - 1}),
                 i -> $substrGramSql) AS g
        FROM base),
      hs AS (
        SELECT doc_id, total_grams,
               list_transform(g, x -> ${graft.functions.Hashing
                 .hash60Sql("x")}) AS hs
        FROM g),
      pos AS (
        SELECT doc_id, total_grams, i AS gpos, hs[i+1] AS h
        FROM hs, unnest(range(len(hs))) t(i)),
      hot AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
      dup AS (SELECT pos.* FROM pos JOIN hot USING (h)),
      flagged AS (
        SELECT doc_id, total_grams, gpos,
               CASE WHEN lag(gpos) OVER w IS NULL
                      OR gpos - lag(gpos) OVER w > 1
                    THEN 1 ELSE 0 END AS brk
        FROM dup
        WINDOW w AS (PARTITION BY doc_id ORDER BY gpos)),
      numbered AS (
        SELECT doc_id, total_grams, gpos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY gpos) AS span
        FROM flagged),
      spans AS (
        SELECT doc_id, total_grams, span, count(*) AS ng,
               CAST(max(gpos) - min(gpos) + $SubstrK AS BIGINT)
                 AS span_tokens
        FROM numbered GROUP BY doc_id, total_grams, span)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(ng) AS BIGINT) AS dup_grams,
             CAST(max(span_tokens) AS BIGINT) AS longest_span_tokens,
             floor(CAST(sum(ng) AS DOUBLE) / CAST(total_grams AS DOUBLE)
               * 10000 + CAST(0.5 AS DOUBLE)) / 10000 AS dup_frac
      FROM spans GROUP BY doc_id, total_grams""",
    "q_dedup_spans" -> {
      val n = graft.textanalysis.TextAnalysis.FpN
      val win = graft.textanalysis.TextAnalysis.FpWin
      s"""
      WITH wd AS (
        SELECT doc_id, ${graft.textanalysis.TextAnalysis.wSql} AS w
        FROM documents),
      base AS (SELECT doc_id, w FROM wd WHERE len(w) >= ${n + win - 1}),
      g AS (
        SELECT doc_id,
               list_transform(range(len(w) - ${n - 1}), i -> $spanGramSql)
                 AS g
        FROM base),
      hs AS (
        SELECT doc_id,
               list_transform(g, x -> ${graft.functions.Hashing
                 .hash60Sql("x")}) AS hs
        FROM g),
      pf AS (
        SELECT DISTINCT doc_id,
               CAST(i + list_position(hs[i+1:i+$win],
                 list_min(hs[i+1:i+$win])) - 1 AS BIGINT) AS gpos,
               list_min(hs[i+1:i+$win]) AS h
        FROM hs, unnest(range(len(hs) - ${win - 1})) t(i)),
      dfs AS (SELECT h, count(DISTINCT doc_id) AS df FROM pf GROUP BY h),
      rare AS (
        SELECT pf.doc_id, pf.gpos, pf.h
        FROM pf JOIN dfs USING (h) WHERE df <= $WinnowDfCap),
      hits AS (
        SELECT DISTINCT ra.doc_id AS a, rb.doc_id AS b,
               ra.gpos AS pa, ra.gpos - rb.gpos AS diag
        FROM rare ra JOIN rare rb
          ON ra.h = rb.h AND ra.doc_id < rb.doc_id),
      flagged AS (
        SELECT a, b, diag, pa,
               CASE WHEN lag(pa) OVER w IS NULL
                      OR pa - lag(pa) OVER w > $win
                    THEN 1 ELSE 0 END AS brk
        FROM hits
        WINDOW w AS (PARTITION BY a, b, diag ORDER BY pa)),
      numbered AS (
        SELECT a, b, diag, pa,
               sum(brk) OVER (PARTITION BY a, b, diag ORDER BY pa) AS span
        FROM flagged),
      spans AS (
        SELECT a, b, diag, span, max(pa) - min(pa) + $n AS span_grams,
               count(*) AS n_fp
        FROM numbered GROUP BY a, b, diag, span)
      SELECT a, b, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(max(span_grams) AS BIGINT) AS longest_span_grams
      FROM spans WHERE n_fp >= $SpanMinFp GROUP BY a, b"""
    },
    "q_dedup_exact" -> """
      SELECT md5(lower(p_name)) AS h, count(*) AS n,
             min(p_partkey) AS canonical
      FROM part GROUP BY 1 HAVING count(*) > 1""",
    "q_dedup_minhash" -> (ctePrefix +
      "SELECT doc_id, array_to_string(sig, '-') AS sig FROM mh"),
    "q_dedup_lsh_pairs" -> (ctePrefix + lshPairsBody),
    "q_dedup_winnow" -> s"""
      WITH ${graft.textanalysis.TextAnalysis.fpSetsSql},
      ex AS (SELECT doc_id, unnest(fp) AS h FROM fps),
      rare AS (
        SELECT ex.doc_id, ex.h FROM ex
        JOIN (SELECT h, count(*) AS df FROM ex GROUP BY h
              HAVING count(*) <= $WinnowDfCap) f ON ex.h = f.h),
      wcand AS (
        SELECT l.doc_id AS a, r.doc_id AS b,
               CAST(count(*) AS BIGINT) AS shared
        FROM rare l JOIN rare r ON l.h = r.h AND l.doc_id < r.doc_id
        GROUP BY l.doc_id, r.doc_id
        HAVING count(*) >= $WinnowMinShared)
      SELECT c.a, c.b, c.shared,
             round(CAST(len(list_intersect(fa.fp, fb.fp)) AS DOUBLE)
               / (len(fa.fp) + len(fb.fp)
                  - len(list_intersect(fa.fp, fb.fp))), 4) AS jaccard
      FROM wcand c
      JOIN fps fa ON c.a = fa.doc_id
      JOIN fps fb ON c.b = fb.doc_id""",
    "q_dedup_fused" -> (ctePrefix + ", " +
      graft.similarity.SimilarityQueries.ctePrefix.trim
        .stripPrefix("WITH") + s""",
      tpairs AS ($lshPairsBody),
      epairs AS (${graft.similarity.SimilarityQueries.embedNearBody})
      SELECT coalesce(t.a, e.a) AS a, coalesce(t.b, e.b) AS b,
             t.jaccard, e.cosine,
             CASE WHEN t.a IS NOT NULL AND e.a IS NOT NULL THEN 'both'
                  WHEN t.a IS NOT NULL THEN 'text'
                  ELSE 'embedding' END AS evidence
      FROM tpairs t FULL OUTER JOIN epairs e
        ON t.a = e.a AND t.b = e.b"""),
    "q_dedup_incremental" -> (ctePrefix + s"""
      , icand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM kept l JOIN kept r
          ON l.band = r.band AND l.key = r.key
         AND l.doc_id % 10 = 7 AND r.doc_id % 10 <> 7
      ),
      iver AS (
        SELECT c.a, c.b,
               round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))),
                 4) AS jaccard
        FROM icand c
        JOIN sh sa ON c.a = sa.doc_id
        JOIN sh sb ON c.b = sb.doc_id)
      SELECT doc_id, dup_of, jaccard FROM (
        SELECT a AS doc_id, b AS dup_of, jaccard,
               row_number() OVER (PARTITION BY a
                                  ORDER BY jaccard DESC, b) AS rn
        FROM iver WHERE jaccard >= $JaccardThreshold)
      WHERE rn = 1"""),
    "q_doc_sample" -> {
      val rateCase = SampleRates.toSeq.sortBy(_._1)
        .map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE lang ", " ", " END")
      s"""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang, $rateCase AS rate,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                 AS BIGINT) AS bucket
        FROM documents)
      WHERE rate IS NOT NULL AND bucket < rate * 65536"""
    },
    "q_dedup_clusters" -> ("WITH RECURSIVE " +
      ctePrefix.trim.stripPrefix("WITH") + clusterCtes + """
      SELECT w.id AS doc_id, c.canonical, w.id = c.canonical AS keep
      FROM dwl w JOIN dcanon c ON w.cluster = c.cluster"""),
    "q_dedup_split" -> ("WITH RECURSIVE " +
      ctePrefix.trim.stripPrefix("WITH") + clusterCtes + s""",
      doc_canon AS (
        SELECT w.id, c.canonical
        FROM dwl w JOIN dcanon c ON w.cluster = c.cluster
      ),
      split_keys AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
               coalesce(c.canonical, CAST(d.doc_id AS VARCHAR))
                 AS group_key
        FROM documents d
        LEFT JOIN doc_canon c ON CAST(d.doc_id AS VARCHAR) = c.id
      )
      SELECT doc_id, group_key,
             CASE WHEN b < $SplitTrainLt THEN 'train'
                  WHEN b < $SplitValLt THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, group_key,
               CAST('0x' || substr(md5(group_key), 1, 4) AS BIGINT) % 100
                 AS b
        FROM split_keys)"""),
    "q_dedup_simhash" -> (ctePrefix + "SELECT doc_id, simhash FROM sims"),
    "q_dedup_simhash_pairs" -> (ctePrefix + s"""
      SELECT a, b, hamming FROM (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
               bit_count(xor(l.simhash, r.simhash)) AS hamming
        FROM skept l JOIN skept r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
      WHERE hamming <= $SimhashMaxDist"""),
    "q_dedup_ngram_jaccard" -> (ctePrefix + s"""
      SELECT a, b, jaccard FROM (
        SELECT c.a, c.b,
               floor(CAST(len(list_intersect(ga.cg, gb.cg)) AS DOUBLE)
                 / (len(ga.cg) + len(gb.cg) - len(list_intersect(ga.cg, gb.cg)))
                 * 10000 + 0.5) / 10000 AS jaccard
        FROM ccand c
        JOIN cgrams ga ON c.a = ga.doc_id
        JOIN cgrams gb ON c.b = gb.doc_id)
      WHERE jaccard >= $CharJaccardThreshold"""))
}
