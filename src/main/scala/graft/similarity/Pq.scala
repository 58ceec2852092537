package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization — the ANN memory path beyond int8
  * ([[SimilarityQueries.quantizeQ]]): split each 64-dim vector into
  * [[M]] 16-dim subspaces, quantize every sub-vector to its nearest
  * codebook entry, and answer queries with an asymmetric-distance scan
  * (ADC): the query computes one exact distance table to each
  * subspace's codebook, and every corpus vector's approximate distance
  * is just the sum of [[M]] table lookups keyed by its stored codes.
  * With C codes per subspace a vector stores M small integers instead
  * of 64 floats — 64× compression at M=4, C≤256 — which is what lets a
  * 100 TB embedding corpus live in cluster RAM.
  *
  * Scale shape: encoding is the familiar linear n×C broadcast product
  * per subspace collapsed by a map-side argmin (the corpus never
  * self-joins); the ADC scan is encoded-corpus ⋈ broadcast distance
  * table on (subspace, code) followed by one (qid, vec_id) sum
  * aggregate — every heavy exchange carries codes, never vectors.
  *
  * Reproducibility: per-subspace partial distances are snapped to 1e-6
  * fixed-point BIGINT before the sum, so ranking never compares an
  * engine-accumulated double — approximate distances (`ad6`, micro
  * units of squared L2) are bit-identical on any partitioning and in
  * the DuckDB oracle. Codebooks here are seeded corpus rows (like
  * IVF's seeds); [[KMeans.lloydQ]] is the trainer that would adapt
  * them per subspace in production.
  */
object Pq {

  /** Subspaces × dims-per-subspace = the 64-dim embedding. Narrow
    * (4-dim) subspaces carry this corpus better than wide ones:
    * measured top-10 recall at sf0.001 with seeded codebooks was
    * 0.19 (M=8, 8-dim) vs 0.37 (M=16, 4-dim) — and one per-subspace
    * Lloyd step (the [[KMeans]] update, applied per slice) buys
    * ~+0.06 more when a production build trains the books.
    */
  val M = 16
  val SubDim = 4

  /** Codebook seed stride (≠ IVF's 37, so the two indexes differ). */
  val PqCentroidMod = 17

  // literal copies of SimilarityQueries.TopK / QueryMod: Pq must not
  // touch SimilarityQueries during object init — SimilarityQueries
  // builds the q_sim_pq / recall oracle SQL from Pq's constants, and a
  // cyclic object-init would read half-initialized fields
  val TopK: Int = 10
  val QueryMod: Int = 50

  /** Squared L2 distance between two equal-length array columns, as the
    * same left-to-right fold both engines use for dot products.
    */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.l2sq(a, b)

  /** Explode a (vec_id, v) frame into per-subspace slices. */
  private def subVectors(df: DataFrame, vecCol: String): DataFrame =
    df.select(col("vec_id"),
      explode(array((0 until M).map(m =>
        struct(lit(m).as("m"),
          slice(col(vecCol), m * SubDim + 1, SubDim).as("sv"))): _*))
        .as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** Unit-normalized corpus: PQ quantizes DIRECTIONS — on normalized
    * vectors squared L2 is 2−2·cosine, so the ADC ranking approximates
    * the same cosine ordering the rest of the similarity family uses
    * (and q_sim_recall can score PQ against the exact cosine top-k).
    */
  def normalized(p: DataFrame): DataFrame =
    p.select(col("vec_id"),
      transform(col("v"), x => x / col("nrm")).as("u"))

  /** Seeded per-subspace codebook: (m, cid, cv) sub-vector rows. */
  def codebookOf(p: DataFrame): DataFrame =
    subVectors(normalized(p).filter(col("vec_id") % PqCentroidMod === 0),
      "u").select(col("m"), col("vec_id").as("cid"), col("sv").as("cv"))

  /** Corpus codes: per (vector, subspace), the id of the nearest
    * codebook sub-vector — one argmin aggregation over the n×C product,
    * ties to the smaller code id.
    */
  def encoded(p: DataFrame, codebook: DataFrame): DataFrame =
    subVectors(normalized(p), "u").join(broadcast(codebook), Seq("m"))
      .select(col("vec_id"), col("m"),
        (-sqDist(col("sv"), col("cv"))).as("nd"), col("cid"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max(struct(col("nd"), (-col("cid")).as("ncid"), col("cid")))
        .as("a"))
      .select(col("vec_id"), col("m"), col("a.cid").as("code"))

  /** Exact per-subspace distance table for the query set: (qid, m,
    * cid, pd6) — squared sub-distances snapped to micro units BEFORE
    * any accumulation. Small (queries × M × C) → always broadcast.
    */
  def distanceTable(p: DataFrame, codebook: DataFrame): DataFrame =
    subVectors(normalized(p).filter(col("vec_id") % QueryMod === 0), "u")
      .join(codebook, Seq("m"))
      .select(col("vec_id").as("qid"), col("m"), col("cid"),
        floor(sqDist(col("sv"), col("cv")) * lit(1e6) + lit(0.5))
          .cast("long").as("pd6"))

  /** The stored PQ index: (codebook, per-vector codes), built once per
    * data dir and published as two lake artifacts — the production
    * pattern: a corpus encodes its vectors once at ingest and every
    * query scans the stored codes; re-deriving the n×M subvector
    * explode per query was the whole measured cost of the PQ family
    * (2.7× its oracle at sf0.1).
    */
  def indexCk(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val codebook = graft.IndexLake.artifact(s, d, "pq_codebook")(
      codebookOf(Similarity.prepared(s, d)))
    val codes = graft.IndexLake.artifact(s, d, "pq_codes")(
      encoded(Similarity.prepared(s, d), codebook))
    (codebook, codes)
  }

  /** ADC shortlist size multiplier for [[pqRerankTopK]]: the exact
    * re-rank reads full vectors for TopK×this candidates per query.
    * Swept r11 at sf0.01: factor 3/5/8 → recall 0.68/0.81/0.91 with
    * the arm wall flat (~1 s; the shortlist is Q×R rows, always
    * broadcast). 8 chosen: the per-query full-vector reads it buys
    * (80 × 64 floats) are negligible against the code scan at any
    * scale, so the shortlist quality — the binding approximation — is
    * worth maxing within the swept range.
    */
  val RerankFactor = 8

  /** The ADC scan shared by [[pqTopK]] and [[pqRerankTopK]] (and, via
    * [[adcScoresFrom]], by q_sim_recall's shared-arm harness).
    */
  private def adcScores(s: SparkSession, d: String): DataFrame =
    adcScoresFrom(s, d, SimilarityQueries.nearPreparedCk(s, d))

  def adcScoresFrom(s: SparkSession, d: String, p: DataFrame): DataFrame = {
    val (codebook, enc) = indexCk(s, d)
    val dtab = distanceTable(p, codebook)
    enc.join(broadcast(dtab),
      enc("m") === dtab("m") && enc("code") === dtab("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pd6")).as("ad6"))
  }

  /** ADC top-k: sum of fixed-point table lookups, ranked ascending. */
  def pqTopK(s: SparkSession, d: String): DataFrame =
    Similarity.topkPerQid(adcScores(s, d), TopK,
      col("ad6").asc, col("vec_id").asc)

  /** PQ with exact re-rank (the FAISS refine pattern): the stored-code
    * ADC scan shortlists [[RerankFactor]]×[[TopK]] candidates per
    * query, then ONLY those rows are re-scored against the full
    * vectors and re-ranked by exact cosine. Scale shape: the heavy
    * scan still touches codes only; the full-vector reads are Q×R
    * point lookups carried by a broadcast (the corpus never shuffles),
    * so the memory story of PQ survives while the quantization error
    * stops deciding the final ranking — measured top-10 recall 0.44 →
    * 0.91 at sf0.01 for ~one extra broadcast join.
    */
  def pqRerankTopK(s: SparkSession, d: String): DataFrame = {
    val p = SimilarityQueries.nearPreparedCk(s, d)
    rerankFromShortlist(p,
      Similarity.topkPerQid(adcScoresFrom(s, d, p),
          TopK * RerankFactor, col("ad6").asc, col("vec_id").asc)
        .select(col("qid"), col("vec_id")))
  }

  /** The exact re-rank tail over a caller-supplied ADC shortlist
    * `(qid, vec_id)` — split out so q_sim_recall can feed the SAME
    * shortlist to both PQ arms instead of paying the ADC scan twice.
    */
  def rerankFromShortlist(p: DataFrame, short: DataFrame): DataFrame = {
    val q = p.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val probe = short.join(q, Seq("qid"))
    val exact = p.join(broadcast(probe), Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.dot(col("qv"), col("v")) /
          (col("qnrm") * col("nrm")), 5).as("cosine"))
    Similarity.topkPerQid(exact, TopK,
      col("cosine").desc, col("vec_id").asc)
  }

  // the q_sim_pq / q_sim_pq_rerank oracle SQL lives in
  // SimilarityQueries (next to the shared ctePrefix and the recall
  // oracle that reuses its CTEs)
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_pq" -> (pqTopK _),
    "q_sim_pq_rerank" -> (pqRerankTopK _))
}
