package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Similarity / embedding-dedup queries with DuckDB oracles. The oracle
  * computes the dot product with the same left-to-right fold
  * (`list_sum(list_transform(list_zip(...)))`) and results are rounded to
  * 5 decimals, so hash-compare is stable.
  */
object SimilarityQueries {

  val TopK = 10
  val QueryMod = 50
  val NearThreshold = 0.4
  val NumPlanes = 8
  // near-dup banding: 16 hyperplanes split into 4 bands of 4 bits —
  // a pair is a candidate iff at least one band agrees. Sized for the
  // 0.4 threshold: P(plane agrees) = 1 - acos(cos)/π, so recall =
  // 1-(1-p^4)^4 ≈ 0.50 at cosine 0.4, 0.78 at 0.7, 0.96 at 0.9
  // (SimilaritySpec measures it against the exact pairs at sf0.001).
  // Narrower bands cost selectivity (2^4 buckets/band): at larger n,
  // raise NearBandBits and NearBands together (e.g. 4×8 over 32 planes)
  // to keep per-band bucket population bounded.
  val NearPlanes = 16
  val NearBands = 4
  val NearBandBits = 4

  private def isQuery = col("vec_id") % QueryMod === 0

  def cosineTopK(s: SparkSession, d: String): DataFrame =
    cosineTopKFrom(nearPreparedCk(s, d))

  /** The brute arm over a caller-supplied prepared frame — every
    * similarity query now reads the ONE session copy of the banded
    * corpus artifact ([[nearPreparedCk]]: vec_id, v, nrm, bucket)
    * instead of re-scanning parquet and re-deriving the norms per
    * invocation; the extra bucket column is pruned or ignored by
    * explicit selects.
    */
  def cosineTopKFrom(p: DataFrame): DataFrame =
    Similarity.bruteTopK(p, p.filter(isQuery), TopK)

  /** Embedding near-duplicate pairs (cosine ≥ threshold, a < b),
    * LSH-bucketed: candidates come from band-equality equi-joins — never
    * an all-pairs cross join, so the plan scales as n²/buckets per band
    * rather than n². The `repartition(vec_id)` pins one Exchange under
    * the banding branch and both verify sides so ReuseExchange computes
    * the bucket projections once.
    */
  /** Corpus with the near-dup banding bucket, the one pinned Exchange
    * shared by the banding branch and both verify sides.
    */
  def nearPrepared(s: SparkSession, d: String): DataFrame = {
    val planes = Similarity.hyperplanes(NearPlanes, 64)
    Similarity.prepared(s, d)
      .withColumn("bucket", Similarity.bucketOf(col("v"), planes))
      .repartition(col("vec_id"))
  }

  /** [[nearPrepared]] as a lake artifact — the banded corpus is a
    * stored index at scale (vectors are signed against the hyperplanes
    * at ingest, like PQ codes and the blocker TF table), and three
    * queries (embed-near, q8-near, fused dedup) would otherwise each
    * re-sign the corpus. On top of the artifact the session keeps ONE
    * vec_id-partitioned in-memory copy (read-once-then-cache — the
    * lake stays the source of truth, restartable and shareable, while
    * repeated queries skip the scan+shuffle; dropping this cache was
    * measured 2.5× on the whole near family at sf0.1).
    */
  def nearPreparedCk(s: SparkSession, d: String): DataFrame =
    graft.Caches.memo(s, d, "near_banded_local")(
      // localCheckpoint, NOT a persist-level pin: df.persist at ANY
      // level stores columnar batches that re-DECODE the vector arrays
      // on every scan (measured: q_sim_clusters 0.93 s checkpointed vs
      // 2.2 s pinned at either level, same machine) — checkpoint keeps
      // raw rows, true decode-once. The heap-tax rule is unaffected:
      // this table is a few MB (never corpus-text-sized), and on
      // executor loss the artifact rebuild is seconds.
      graft.IndexLake.artifact(s, d, "near_banded")(nearPrepared(s, d))
        .repartition(col("vec_id"))
        .localCheckpoint(true))

  /** Band-equality candidate pairs (a < b, distinct) — never an
    * all-pairs join; shared by the fp and int8 verify paths.
    */
  def nearCandidates(p: DataFrame): DataFrame = {
    val mask = (1L << NearBandBits) - 1
    val banded = p.select(col("vec_id"),
      explode(array((0 until NearBands).map(i =>
        struct(lit(i).as("band"),
          expr(s"shiftright(bucket, ${i * NearBandBits}) & $mask")
            .as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.select(col("band"), col("key"), col("vec_id").as("a"))
      .join(banded.select(col("band"), col("key"), col("vec_id").as("b")),
        Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  def embedNearPairs(s: SparkSession, d: String): DataFrame = {
    val p = nearPreparedCk(s, d)
    val cand = nearCandidates(p)
    val a = p.select(col("vec_id").as("a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = p.select(col("vec_id").as("b"), col("v").as("vb"),
      col("nrm").as("nb"))
    cand.join(a, Seq("a")).join(b, Seq("b"))
      .select(col("a"), col("b"),
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")),
          5).as("cosine"))
      .filter(col("cosine") >= NearThreshold)
  }

  /** Int8-verified near-dup pairs — the memory path of
    * [[embedNearPairs]] end-to-end: the SAME banded candidates, but
    * verification reads only the int8 codes of [[quantizeQ]]'s scalar
    * quantization. The per-vector absmax scales cancel in the cosine
    * (v̂ = s·q ⇒ cos = Σq_aq_b / (√Σq_a² √Σq_b²)), so the whole verify
    * is exact integer sums with one final sqrt/division — a 4×-smaller
    * working set with bit-identical results on any partitioning, and
    * measured ≲0.003 cosine error vs fp (SimilaritySpec's quantization
    * bound). The float corpus is only touched once, at index build.
    */
  def nearQ8(s: SparkSession, d: String): DataFrame = {
    val p = nearPreparedCk(s, d)
    val cand = nearCandidates(p)
    val q8 = p
      .withColumn("scale",
        aggregate(col("v"), lit(0.0d), (acc, x) => greatest(acc, abs(x)))
          / 127.0d)
      .filter(col("scale") > 0)
      .select(col("vec_id"),
        transform(col("v"), x => floor(x / col("scale") + 0.5d)
          .cast("long")).as("q"))
      .withColumn("qq",
        graft.functions.VectorExpressions.dotL(col("q"), col("q")))
    val a = q8.select(col("vec_id").as("a"), col("q").as("qa"),
      col("qq").as("qqa"))
    val b = q8.select(col("vec_id").as("b"), col("q").as("qb"),
      col("qq").as("qqb"))
    cand.join(a, Seq("a")).join(b, Seq("b"))
      .select(col("a"), col("b"),
        round(graft.functions.VectorExpressions.dotL(col("qa"), col("qb"))
          .cast("double") /
          (sqrt(col("qqa").cast("double")) * sqrt(col("qqb").cast("double"))),
          5).as("cos8"))
      .filter(col("cos8") >= NearThreshold)
  }

  // IVF: C ≈ √n corpus-scaled coarse lists ([[centroidMod]], r7 —
  // replaced the fixed mod-37 seeding whose ~14 lists capped the
  // sf0.01 sweep), then KMeans.trainedCentroids adapts the seeds with
  // Lloyd iterations. The probed fraction is nprobe/√n, shrinking
  // with corpus size. NProbe swept r11 at C≈71/sf0.01: recall 0.58/
  // 0.73/0.88/0.95 at nprobe 5/8/12/16, arm wall flat — 12 is the
  // knee (probed fraction 17% locally, nprobe/√n at scale).
  val NProbe = 12

  /** Corpus-scaled coarse-list modulus: mod = n ÷ ⌊√n⌋, giving C ≈ √n
    * seed lists (the IVF design point — probed fraction nprobe/√n
    * shrinks with corpus size instead of staying a fixed ~20%). The
    * DuckDB oracle computes the identical value via [[CentroidModSql]]
    * (same IEEE sqrt, same integer division), so the seed set is
    * engine-independent. Memoized per (session, dir): one count job.
    */
  def centroidMod(s: SparkSession, d: String): Int =
    graft.Caches.memo(s, d, "centroid_mod") {
      val n = graft.Tables.embeddings(s, d).count()
      val c = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
      math.max(2L, n / c).toInt
    }

  /** SQL twin of [[centroidMod]] for the oracles (DuckDB `//` is
    * integer division).
    */
  val CentroidModSql: String =
    "(SELECT GREATEST(2, COUNT(*) // GREATEST(1, " +
      "CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) FROM embeddings)"

  /** Seeded (untrained) centroids — iteration 0 of the trainer; still
    * the SemDedup partitioner, where any fixed partition works and the
    * per-cluster pairwise step dominates.
    */
  def ivfCentroids(p: DataFrame, mod: Int): DataFrame =
    broadcast(p.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm")))

  private def withCsim(df: DataFrame, cent: DataFrame): DataFrame =
    df.crossJoin(cent)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
        (Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
          .as("csim"))

  /** Nearest-centroid assignment as ONE aggregation (max over an
    * ordered struct, ties → min cid): map-side partial combine
    * collapses the n×C product before the shuffle — a window over n×C
    * rows would ship the corpus C times.
    */
  def ivfAssigned(p: DataFrame, cent: DataFrame): DataFrame =
    withCsim(p, cent)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cid")).as("ncid"), col("cid"),
        col("v"), col("nrm"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.nrm").as("nrm"),
        col("m.cid").as("cid"))

  /** Per-query probe lists — the window runs over #queries × C rows. */
  def ivfProbes(p: DataFrame, cent: DataFrame): DataFrame = {
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    broadcast(withCsim(p.filter(isQuery), cent)
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= NProbe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cid")))
  }

  /** IVF (inverted-file) ANN: assign every vector to its nearest
    * TRAINED centroid ([[KMeans.trainedCentroids]] — an n×C broadcast
    * product, the IVF scale story: C ≪ n, so assignment is linear and
    * the corpus never self-joins), then each query probes its
    * [[NProbe]] nearest centroid lists and ranks only those vectors.
    * Complements [[annLsh]]: LSH buckets are oblivious, IVF lists
    * adapt to the data's cluster structure.
    */
  def ivfTopK(s: SparkSession, d: String): DataFrame =
    ivfTopKFrom(s, d, nearPreparedCk(s, d))

  def ivfTopKFrom(s: SparkSession, d: String, p: DataFrame): DataFrame = {
    val cent = broadcast(KMeans.trainedCentroids(s, d))
    val assigned = ivfAssigned(p, cent)
    val probes = ivfProbes(p, cent)
    val scored = assigned.join(probes, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.dot(col("qv"), col("v")) /
          (col("qnrm") * col("nrm")), 5).as("cosine"))
    Similarity.topkPerQid(scored, TopK,
      col("cosine").desc, col("vec_id").asc)
  }

  /** LSH-banded ANN: band-OR multi-probe over the [[NearPlanes]]-bit
    * hyperplane code — a candidate is any corpus vector sharing AT
    * LEAST ONE of the [[NearBands]] band keys with the query (the same
    * banding [[embedNearPairs]] uses), ranked by exact cosine within
    * the candidate set. The original single-bucket variant (all
    * [[NumPlanes]] bits must match) was MEASURED at ≈0.01 top-10
    * recall by q_sim_recall at sf0.01 — band-OR probing is the
    * standard fix, trading ~[[NearBands]]× candidate volume for recall
    * in the 0.5–0.9 range (the banding table above). Still never an
    * all-pairs scan: candidates come from equi-joins on (band, key).
    */
  def annLsh(s: SparkSession, d: String): DataFrame =
    annLshFrom(nearPreparedCk(s, d))

  /** The LSH arm over a prepared frame that already carries the
    * [[NearPlanes]]-bit bucket column — [[nearPreparedCk]] signs the
    * corpus against the SAME hyperplanes at ingest, so re-deriving the
    * bucket per invocation (16 64-dim dot products per row) was pure
    * recompute.
    */
  def annLshFrom(p: DataFrame): DataFrame = {
    val mask = (1L << NearBandBits) - 1
    def banded(df: DataFrame): DataFrame = df
      .select(col("vec_id"),
        explode(array((0 until NearBands).map(i =>
          struct(lit(i).as("band"),
            expr(s"shiftright(bucket, ${i * NearBandBits}) & $mask")
              .as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val qb = broadcast(banded(p.filter(isQuery))
      .withColumnRenamed("vec_id", "qid"))
    val cand = banded(p).join(qb, Seq("band", "key"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
    val q = broadcast(p.filter(isQuery).select(col("vec_id").as("qid"),
      col("v").as("qv"), col("nrm").as("qnrm")))
    val scored = cand.join(p, Seq("vec_id")).join(q, Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")),
          5).as("cosine"))
    Similarity.topkPerQid(scored, TopK,
      col("cosine").desc, col("vec_id").asc)
  }

  // ---------------------------------------------------------------- oracle

  /** Int8 scalar quantization — the memory path for ANN at 100 TB:
    * a float32 corpus shrinks 4× (plus the norm precomputation) with
    * ~1% cosine error, so a 1000-executor cluster holds the whole
    * index in RAM instead of spilling. Per-vector absmax scaling:
    * `scale = max|v| / 127`, `q_i = floor(v_i/scale + 0.5)` —
    * floor-form rounding because Spark and DuckDB `round()` disagree
    * on .5 ties. Map-only, no shuffle; emits the quantized vector as
    * a comma string so the oracle checks every element.
    */
  def quantizeQ(s: SparkSession, d: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), v.as("v"))
      .withColumn("scale",
        aggregate(col("v"), lit(0.0d),
          (acc, x) => greatest(acc, abs(x))) / 127.0d)
      .filter(col("scale") > 0)
      .select(col("vec_id"), round(col("scale"), 9).as("scale"),
        concat_ws(",", transform(col("v"),
          x => floor(x / col("scale") + 0.5d).cast("long"))).as("q"))
  }

  private def planesLiteral(n: Int): String =
    Similarity.hyperplanes(n, 64)
      .map(_.mkString("[", ",", "]")).mkString("[", ",\n      ", "]")

  val ctePrefix: String = s"""
    WITH prep AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    normed AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM prep
    ),
    planes AS (SELECT ${planesLiteral(NumPlanes)} AS m),
    bucketed AS (
      SELECT vec_id, v, nrm,
             (SELECT sum(CASE WHEN list_sum(list_transform(
                         list_zip(n.v, m[j+1]), s -> s[1] * s[2])) > 0
                    THEN CAST(1 AS BIGINT) << j ELSE 0 END)
              FROM planes, unnest(range($NumPlanes)) t(j)) AS bucket
      FROM normed n
    ),
    nplanes AS (SELECT ${planesLiteral(NearPlanes)} AS m),
    nbucketed AS (
      SELECT vec_id,
             (SELECT sum(CASE WHEN list_sum(list_transform(
                         list_zip(n.v, m[j+1]), s -> s[1] * s[2])) > 0
                    THEN CAST(1 AS BIGINT) << j ELSE 0 END)
              FROM nplanes, unnest(range($NearPlanes)) t(j)) AS bucket
      FROM normed n
    ),
    nbands AS (
      SELECT vec_id, j AS band,
             (bucket >> (j * $NearBandBits)) & ${(1L << NearBandBits) - 1}
               AS key
      FROM nbucketed, unnest(range($NearBands)) t(j)
    ),
    ncand AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM nbands l JOIN nbands r
        ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
    )
    """

  /** Measured LSH recall against the exact top-k — the "measure, don't
    * guess" number for the ANN path, as a first-class query: per query
    * vector, how many of the true top-[[TopK]] neighbors the bucketed
    * search returned. The exact side is the brute-force baseline (the
    * quality bar), the approximate side is [[annLsh]]; recall loss is
    * the price of never scanning all pairs, and this makes that price a
    * checked, regression-tracked output instead of a code comment.
    */
  def recallQ(s: SparkSession, d: String): DataFrame = {
    // ONE shared prepared frame feeds all five arms (previously each
    // arm re-scanned parquet and re-derived the norms), and the two PQ
    // arms share ONE ADC scan: pqTopK's top-10 is exactly the rn ≤ 10
    // prefix of the rerank shortlist's identical (ad6 asc, vec_id asc)
    // window, so the shortlist — Q × TopK·RerankFactor rows, bounded by
    // the query workload — is checkpointed once and sliced twice.
    val p = nearPreparedCk(s, d)
    val exact = cosineTopKFrom(p).select(col("qid"), col("vec_id"))
    val lsh = annLshFrom(p).select(col("qid"), col("vec_id"))
      .withColumn("lsh_hit", lit(1))
    val ivf = ivfTopKFrom(s, d, p).select(col("qid"), col("vec_id"))
      .withColumn("ivf_hit", lit(1))
    // PQ ranks by ADC distance on unit vectors (= cosine ordering up
    // to quantization error), so the same exact-cosine baseline applies
    val short = Similarity.topkPerQid(Pq.adcScoresFrom(s, d, p),
        Pq.TopK * Pq.RerankFactor, col("ad6").asc, col("vec_id").asc)
      .select(col("qid"), col("vec_id"), col("rn"))
      .localCheckpoint(true)
    val pq = short.filter(col("rn") <= TopK)
      .select(col("qid"), col("vec_id"))
      .withColumn("pq_hit", lit(1))
    val pqrr = Pq.rerankFromShortlist(p,
        short.select(col("qid"), col("vec_id")))
      .select(col("qid"), col("vec_id"))
      .withColumn("pqrr_hit", lit(1))
    def frac(n: Column): Column =
      floor(n.cast("double") / col("n_exact").cast("double")
        * 10000 + lit(0.5)) / 10000
    // the arm results are Q×K rows (bounded by the query workload, not
    // the corpus — broadcastable at any scale): broadcast the probe
    // sides so the three recall joins add zero exchanges
    exact.join(broadcast(lsh), Seq("qid", "vec_id"), "left_outer")
      .join(broadcast(ivf), Seq("qid", "vec_id"), "left_outer")
      .join(broadcast(pq), Seq("qid", "vec_id"), "left_outer")
      .join(broadcast(pqrr), Seq("qid", "vec_id"), "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        count(col("lsh_hit")).as("hit_lsh"),
        count(col("ivf_hit")).as("hit_ivf"),
        count(col("pq_hit")).as("hit_pq"),
        count(col("pqrr_hit")).as("hit_pq_rr"))
      .select(col("qid"), col("n_exact"),
        col("hit_lsh"), frac(col("hit_lsh")).as("recall_lsh"),
        col("hit_ivf"), frac(col("hit_ivf")).as("recall_ivf"),
        col("hit_pq"), frac(col("hit_pq")).as("recall_pq"),
        col("hit_pq_rr"), frac(col("hit_pq_rr")).as("recall_pq_rr"))
  }

  /** Embedding-side components as a lake artifact (derived resolver
    * state over the stored verified near-pairs — same rationale as
    * [[graft.dedup.DedupQueries.clusterCcCk]]).
    */
  def embedCcCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "embed_components")(
      graft.resolver.Resolver.connectedComponents(
        embedNearPairs(s, d).select(
          col("a").cast("string").as("src"),
          col("b").cast("string").as("dst"))))

  /** Embedding near-dup cluster closure — the embedding-side twin of
    * [[graft.dedup.DedupQueries.clustersQ]]: verified cosine pairs →
    * connected components → one surviving representative (min vec_id)
    * per cluster. Same scale shape: components run on the pair list
    * only (the near-dup set, not the corpus), and unclustered vectors
    * are implicitly kept and not listed.
    */
  def embedClustersQ(s: SparkSession, d: String): DataFrame = {
    val cc = embedCcCk(s, d)
      .select(col("id").cast("long").as("vec_id"), col("cluster"))
    val canon = cc.groupBy(col("cluster"))
      .agg(min(col("vec_id")).as("canonical"))
    cc.join(canon, Seq("cluster"))
      .select(col("vec_id"), col("canonical"),
        (col("vec_id") === col("canonical")).as("keep"))
  }

  /** IVF-PQ — the composed big-ANN architecture (coarse inverted lists
    * × product-quantized codes, the public FAISS IVFPQ design): a query
    * probes its [[NProbe]] nearest IVF lists and ranks ONLY vectors
    * assigned to those lists, by ADC over their stored PQ codes. At
    * scale this is the full memory+compute story in one plan: the
    * corpus is M bytes of codes per vector, the scan touches the probed
    * fraction (≈ nprobe/C) of it, and the per-vector work is M integer
    * table lookups — no float vector is ever read at query time.
    * Composition only: [[ivfAssigned]]/[[ivfProbes]] partition,
    * [[Pq.indexCk]] serves the stored codes, [[Pq.distanceTable]]
    * quantizes the query side.
    */
  def ivfPqQ(s: SparkSession, d: String): DataFrame = {
    val p = nearPreparedCk(s, d)
    val cent = broadcast(KMeans.trainedCentroids(s, d))
    val lists = ivfAssigned(p, cent)
      .select(col("vec_id"), col("cid").as("ivf_cid"))
    val probeIds = broadcast(ivfProbes(p, cent)
      .select(col("qid"), col("cid").as("ivf_cid")))
    val (codebook, enc) = Pq.indexCk(s, d)
    val dtab = Pq.distanceTable(p, codebook)
    val cand = enc.join(lists, Seq("vec_id"))
      .join(probeIds, Seq("ivf_cid"))
      .filter(col("vec_id") =!= col("qid"))
    val scored = cand.join(broadcast(dtab),
      cand("qid") === dtab("qid") && cand("m") === dtab("m") &&
        cand("code") === dtab("cid"))
      .groupBy(cand("qid"), col("vec_id"))
      .agg(sum(col("pd6")).as("ad6"))
    Similarity.topkPerQid(scored, TopK, col("ad6").asc, col("vec_id").asc)
  }

  /** k-NN majority-vote classification over the exact cosine top-k —
    * the classic similarity-search application (label propagation /
    * auto-tagging a corpus from its labeled neighbors). Composition:
    * [[cosineTopK]] ⋈ labels → per-(query, label) vote count → one
    * argmax aggregate (ties → smaller label), checked against the
    * query's own label. Swapping in [[annLsh]]/[[ivfTopK]]/[[Pq]] top-k
    * gives the approximate variants at scale — the vote algebra is
    * identical.
    */
  def knnQ(s: SparkSession, d: String): DataFrame = {
    val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val votes = cosineTopK(s, d).join(lbl, Seq("vec_id"))
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes.groupBy(col("qid"))
      .agg(max(struct(col("votes"), (-col("label")).as("nl"),
        col("label"))).as("m"))
      .select(col("qid"), col("m.votes").as("votes"),
        col("m.label").as("predicted"))
    pred.join(lbl.select(col("vec_id").as("qid"), col("label")), Seq("qid"))
      .select(col("qid"), col("label"), col("predicted"), col("votes"),
        (col("label") === col("predicted")).as("correct"))
  }

  /** Hard-negative mining for contrastive / triplet training (the
    * FaceNet-style miner, relationally): for each anchor, take the
    * exact cosine top-K, split it by label agreement, and emit the
    * [[HardNegK]] highest-cosine different-label candidates with a
    * margin flag — `is_hard` marks negatives at or above the anchor's
    * best positive cosine (margin violators, the pairs a triplet loss
    * actually learns from; an anchor with no in-top-K positive treats
    * every negative as hard).
    *
    * Scale shape: the candidate generation is whatever top-K engine is
    * plugged in — here the brute baseline (queries broadcast, corpus
    * never shuffles); at 100 TB swap annLsh/ivfTopK/pqTopK — the
    * mining algebra downstream runs on anchors×K rows only, and is
    * checkpointed before its two consumers (best-positive aggregate,
    * negative ranking) so the top-K join runs once.
    */
  val HardNegK = 5

  def hardNegQ(s: SparkSession, d: String): DataFrame = {
    val p = nearPreparedCk(s, d)
    val topk = Similarity.bruteTopK(p, p.filter(isQuery), TopK)
    val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val j = topk
      .join(broadcast(lbl.select(col("vec_id").as("qid"),
        col("label").as("qlabel"))), Seq("qid"))
      .join(broadcast(lbl.select(col("vec_id"), col("label").as("clabel"))),
        Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("cosine"), col("qlabel"),
        col("clabel"))
      .localCheckpoint(true)
    val bestPos = j.filter(col("clabel") === col("qlabel"))
      .groupBy(col("qid")).agg(max(col("cosine")).as("bp"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    j.filter(col("clabel") =!= col("qlabel"))
      .join(bestPos, Seq("qid"), "left")
      .withColumn("nrn", row_number().over(w))
      .filter(col("nrn") <= HardNegK)
      .select(col("qid"), col("vec_id").as("cand"), col("cosine"),
        col("qlabel"), col("clabel"),
        (col("bp").isNull || col("cosine") >= col("bp")).as("is_hard"),
        coalesce(col("bp"), lit(-1.0)).as("best_pos"), col("nrn"))
  }

  /** MMR selection depth and the relevance/diversity mix. `MmrDiv` is
    * spelled as its own constant (not computed as 1−λ): 1−0.7 is
    * 0.30000000000000004 in IEEE doubles while a 0.3 literal is not —
    * both engines must parse the same literal.
    */
  val MmrK = 3
  val MmrLambda = 0.7
  val MmrDiv = 0.3

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell &
    * Goldstein 1998) — the retrieval-side dedup of RAG / training-data
    * selection: from each anchor's cosine top-[[TopK]], greedily pick
    * [[MmrK]] results maximizing λ·sim(q,d) − (1−λ)·max sim(d, picked).
    * The greedy loop is UNROLLED (k is a small constant) into chained
    * argmax aggregations — no recursion, no driver loop; the pairwise
    * candidate sims are a per-anchor K×K table, checkpointed with the
    * top-k so the selection steps never re-run the brute scan. Scores
    * rank in 1e-6 fixed point over the already-5-decimal cosines, so
    * the selection is bit-identical across engines.
    */
  def mmrQ(s: SparkSession, d: String): DataFrame = {
    val p = nearPreparedCk(s, d)
    val tk = Similarity.bruteTopK(p, p.filter(isQuery), TopK)
      .select(col("qid"), col("vec_id").as("cand"),
        col("cosine").as("cosq"))
      .localCheckpoint(true)
    val v = p.select(col("vec_id"), col("v"), col("nrm"))
    val psim = tk.select(col("qid"), col("cand").as("x"))
      .join(tk.select(col("qid"), col("cand").as("y")), Seq("qid"))
      .filter(col("x") =!= col("y"))
      .join(v.select(col("vec_id").as("x"), col("v").as("vx"),
        col("nrm").as("nx")), Seq("x"))
      .join(v.select(col("vec_id").as("y"), col("v").as("vy"),
        col("nrm").as("ny")), Seq("y"))
      .select(col("qid"), col("x"), col("y"),
        round(Similarity.dot(col("vx"), col("vy")) /
          (col("nx") * col("ny")), 5).as("s"))
      .localCheckpoint(true)
    def e6(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    val p1 = tk.groupBy(col("qid"))
      .agg(max(struct(col("cosq"), (-col("cand")).as("nc"),
        col("cand"))).as("m"))
      .select(col("qid"), col("m.cand").as("p1"),
        e6(lit(MmrLambda) * col("m.cosq")).as("e1"))
    val c2 = tk.join(p1, Seq("qid")).filter(col("cand") =!= col("p1"))
      .join(psim.select(col("qid"), col("x").as("cand"),
        col("y").as("p1"), col("s").as("s1")), Seq("qid", "cand", "p1"))
      .withColumn("sc",
        e6(lit(MmrLambda) * col("cosq") - lit(MmrDiv) * col("s1")))
    val p2 = c2.groupBy(col("qid"))
      .agg(max(struct(col("sc"), (-col("cand")).as("nc"), col("cand"),
        col("p1"))).as("m"))
      .select(col("qid"), col("m.p1").as("p1"), col("m.cand").as("p2"),
        col("m.sc").as("e2"))
    val c3 = tk.join(p2, Seq("qid"))
      .filter(col("cand") =!= col("p1") && col("cand") =!= col("p2"))
      .join(psim.select(col("qid"), col("x").as("cand"),
        col("y").as("p1"), col("s").as("s1")), Seq("qid", "cand", "p1"))
      .join(psim.select(col("qid"), col("x").as("cand"),
        col("y").as("p2"), col("s").as("s2")), Seq("qid", "cand", "p2"))
      .withColumn("sc", e6(lit(MmrLambda) * col("cosq") -
        lit(MmrDiv) * greatest(col("s1"), col("s2"))))
    val p3 = c3.groupBy(col("qid"))
      .agg(max(struct(col("sc"), (-col("cand")).as("nc"),
        col("cand"))).as("m"))
      .select(col("qid"), col("m.cand").as("p3"), col("m.sc").as("e3"))
    p1.select(col("qid"), lit(1).as("sel_rank"), col("p1").as("vec_id"),
        col("e1").as("mmr_e6"))
      .unionByName(p2.select(col("qid"), lit(2).as("sel_rank"),
        col("p2").as("vec_id"), col("e2").as("mmr_e6")))
      .unionByName(p3.select(col("qid"), lit(3).as("sel_rank"),
        col("p3").as("vec_id"), col("e3").as("mmr_e6")))
  }

  /** Incremental embedding-index ingest — the similarity twin of the
    * statement lake's MERGE: a new vector batch (`vec_id % 10 == 7`,
    * the same delta convention as the dedup incremental screen) is
    * added to the EXISTING stored index without retraining and without
    * touching the corpus: each delta vector is assigned to its nearest
    * TRAINED IVF centroid and PQ-encoded against the stored codebook —
    * O(delta × C) work total, the add() path of a production ANN
    * index. Emits one index-add record per delta vector:
    * (vec_id, list_id, codes), codes ordered by subspace.
    */
  def indexAddQ(s: SparkSession, d: String): DataFrame = {
    val delta = nearPreparedCk(s, d).filter(col("vec_id") % 10 === 7)
    val cent = broadcast(KMeans.trainedCentroids(s, d))
    val assigned = ivfAssigned(delta, cent)
      .select(col("vec_id"), col("cid").as("list_id"))
    val (codebook, _) = Pq.indexCk(s, d)
    val codes = Pq.encoded(delta, codebook)
      .groupBy(col("vec_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("m"), col("code")))),
        x => x.getField("code").cast("string")), "-").as("codes"))
    assigned.join(codes, Seq("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_index_add" -> (indexAddQ _),
    "q_sim_mmr" -> (mmrQ _),
    "q_sim_hardneg" -> (hardNegQ _),
    "q_sim_ivfpq" -> (ivfPqQ _),
    "q_sim_near_q8" -> (nearQ8 _),
    "q_sim_knn" -> (knnQ _),
    "q_sim_cosine_topk" -> (cosineTopK _),
    "q_sim_clusters" -> (embedClustersQ _),
    "q_sim_embed_near" -> (embedNearPairs _),
    "q_sim_ann_lsh" -> (annLsh _),
    "q_sim_ivf" -> (ivfTopK _),
    "q_sim_recall" -> (recallQ _),
    "q_sim_quantize" -> (quantizeQ _))

  /** Verified near-pair SELECT body — shared by its own oracle and the
    * fused-dedup oracle ([[graft.dedup.DedupQueries]]), so the two
    * cannot drift.
    */
  val embedNearBody: String = s"""
      SELECT a, b, cosine FROM (
        SELECT c.a, c.b,
               round(list_sum(list_transform(list_zip(x.v, y.v),
                 s -> s[1] * s[2])) / (x.nrm * y.nrm), 5) AS cosine
        FROM ncand c
        JOIN normed x ON c.a = x.vec_id
        JOIN normed y ON c.b = y.vec_id)
      WHERE cosine >= $NearThreshold"""

  /** The cosine-topk and LSH-topk SELECT bodies, shared by their own
    * oracles and the recall oracle so the two sides cannot drift.
    */
  private val cosineTopkBody: String = s"""
      SELECT qid, vec_id, cosine, rn FROM (
        SELECT q.vec_id AS qid, c.vec_id,
               round(list_sum(list_transform(list_zip(q.v, c.v),
                 s -> s[1] * s[2])) / (q.nrm * c.nrm), 5) AS cosine,
               row_number() OVER w AS rn
        FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % $QueryMod = 0
        WINDOW w AS (PARTITION BY q.vec_id
                     ORDER BY round(list_sum(list_transform(list_zip(q.v, c.v),
                       s -> s[1] * s[2])) / (q.nrm * c.nrm), 5) DESC,
                       c.vec_id ASC)
      ) WHERE rn <= $TopK"""

  private val annLshBody: String = s"""
      SELECT qid, vec_id, cosine, rn FROM (
        SELECT c.qid, c.vec_id,
               round(list_sum(list_transform(list_zip(q.v, n.v),
                 s -> s[1] * s[2])) / (q.nrm * n.nrm), 5) AS cosine,
               row_number() OVER w AS rn
        FROM (SELECT DISTINCT l.vec_id AS qid, r.vec_id
              FROM nbands l JOIN nbands r
                ON l.band = r.band AND l.key = r.key
              WHERE l.vec_id % $QueryMod = 0
                AND r.vec_id <> l.vec_id) c
        JOIN normed q ON c.qid = q.vec_id
        JOIN normed n ON c.vec_id = n.vec_id
        WINDOW w AS (PARTITION BY c.qid
                     ORDER BY round(list_sum(list_transform(list_zip(q.v, n.v),
                       s -> s[1] * s[2])) / (q.nrm * n.nrm), 5) DESC,
                       c.vec_id ASC)
      ) WHERE rn <= $TopK"""

  /** Product-quantization CTE chain ending in `pqtop` — shared by the
    * q_sim_pq oracle and the recall oracle. Mirrors [[Pq.pqTopK]]:
    * unit-normalize, slice into [[Pq.M]] subspaces, argmin-encode
    * against the seeded codebook, ADC-sum the query's fixed-point
    * distance table, rank.
    */
  private val pqSqDist =
    "list_sum(list_transform(list_zip(%s, %s), z -> (z[1]-z[2])*(z[1]-z[2])))"

  private val pqCtes: String = s"""
      , unitv AS (
        SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM normed
      ),
      psub AS (
        SELECT vec_id, m,
               list_slice(u, m*${Pq.SubDim}+1, m*${Pq.SubDim}+${Pq.SubDim})
                 AS sv
        FROM unitv, unnest(range(${Pq.M})) t(m)
      ),
      pqcb AS (
        SELECT m, vec_id AS cid, sv AS cv FROM psub
        WHERE vec_id % ${Pq.PqCentroidMod} = 0
      ),
      pqenc AS (
        SELECT vec_id, m, cid AS code FROM (
          SELECT s.vec_id, s.m, c.cid,
                 row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY ${pqSqDist.format("s.sv", "c.cv")} ASC,
                     c.cid ASC) AS rn
          FROM psub s JOIN pqcb c ON s.m = c.m)
        WHERE rn = 1
      ),
      pqdtab AS (
        SELECT q.vec_id AS qid, q.m, c.cid,
               CAST(floor(${pqSqDist.format("q.sv", "c.cv")} * 1e6
                 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS pd6
        FROM psub q JOIN pqcb c ON q.m = c.m
        WHERE q.vec_id % ${Pq.QueryMod} = 0
      ),
      pqadc AS (
        SELECT d.qid, e.vec_id, CAST(sum(d.pd6) AS BIGINT) AS ad6
        FROM pqenc e JOIN pqdtab d ON e.m = d.m AND e.code = d.cid
        WHERE e.vec_id <> d.qid
        GROUP BY d.qid, e.vec_id
      ),
      pqtop AS (
        SELECT qid, vec_id, ad6, rn FROM (
          SELECT qid, vec_id, ad6,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY ad6 ASC, vec_id ASC) AS rn
          FROM pqadc)
        WHERE rn <= ${Pq.TopK}
      )"""

  /** PQ-with-exact-re-rank CTE chain ([[Pq.pqRerankTopK]]'s twin):
    * shortlist by ADC, re-score the shortlist against the full unit
    * vectors, exact-cosine top-K. Shared by the q_sim_pq_rerank oracle
    * and the recall oracle's pq_rr arm.
    */
  private val pqRerankCtes: String = s""",
      pqshort AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY ad6 ASC, vec_id ASC) AS srn
          FROM pqadc)
        WHERE srn <= ${Pq.TopK * Pq.RerankFactor}
      ),
      pqrr AS (
        SELECT qid, vec_id, cosine, rn FROM (
          SELECT s.qid, s.vec_id,
                 round(list_sum(list_transform(list_zip(q.v, x.v),
                   t -> t[1] * t[2])) / (q.nrm * x.nrm), 5) AS cosine,
                 row_number() OVER (PARTITION BY s.qid
                   ORDER BY round(list_sum(list_transform(list_zip(q.v, x.v),
                     t -> t[1] * t[2])) / (q.nrm * x.nrm), 5) DESC,
                     s.vec_id ASC) AS rn
          FROM pqshort s
          JOIN normed q ON s.qid = q.vec_id
          JOIN normed x ON s.vec_id = x.vec_id)
        WHERE rn <= ${Pq.TopK}
      )"""

  /** The trained-centroid CTE chain: seed from every [[CentroidMod]]-th
    * vector, then unroll [[KMeans.IvfIterations]] Lloyd steps — the
    * exact fixed-point math of [[KMeans.lloydStep]] (e6 integer sums,
    * `s6/(n·1e6)` means), so both engines land on bit-identical
    * centroids and the oracle genuinely re-derives the trained index.
    */
  private def trainCtes: String = {
    val seed = s"""
      , tcents0 AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM normed
        WHERE vec_id % $CentroidModSql = 0
      )"""
    val steps = (0 until KMeans.IvfIterations).map { t =>
      s""",
      tasg$t AS (
        SELECT n.vec_id, n.v, c.cid,
               row_number() OVER (PARTITION BY n.vec_id
                 ORDER BY list_sum(list_transform(list_zip(n.v, c.cv),
                   s -> s[1] * s[2])) / (n.nrm * c.cnrm) DESC,
                   c.cid ASC) AS arn
        FROM normed n, tcents$t c
      ),
      tsums$t AS (
        SELECT cid, pos, CAST(sum(e6) AS BIGINT) AS s6, count(*) AS n
        FROM (
          SELECT cid, i AS pos,
                 CAST(floor(v[i+1] * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   AS e6
          FROM (SELECT vec_id, v, cid FROM tasg$t WHERE arn = 1),
               unnest(range(len(v))) u(i))
        GROUP BY cid, pos
      ),
      tcents${t + 1} AS (
        SELECT cid, cv,
               sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
        FROM (
          SELECT cid,
                 list(CAST(s6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
                      ORDER BY pos) AS cv
          FROM tsums$t GROUP BY cid)
      )"""
    }.mkString
    seed + steps + s""",
      cents AS (
        SELECT cid, cv, cnrm FROM tcents${KMeans.IvfIterations}
      )"""
  }

  /** IVF assignment/probe CTE chain + final select — shared by the IVF
    * oracle and the recall oracle. `cents` is the TRAINED centroid
    * table from [[trainCtes]].
    */
  private val ivfCtes: String = trainCtes + s""",
      asg AS (
        SELECT n.vec_id, n.v, n.nrm, c.cid,
               list_sum(list_transform(list_zip(n.v, c.cv),
                 s -> s[1] * s[2])) / (n.nrm * c.cnrm) AS csim,
               row_number() OVER (PARTITION BY n.vec_id
                 ORDER BY list_sum(list_transform(list_zip(n.v, c.cv),
                   s -> s[1] * s[2])) / (n.nrm * c.cnrm) DESC,
                   c.cid ASC) AS arn
        FROM normed n, cents c
      ),
      assigned AS (
        SELECT vec_id, v, nrm, cid FROM asg WHERE arn = 1
      ),
      probes AS (
        SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid FROM asg
        WHERE vec_id % $QueryMod = 0 AND arn <= $NProbe
      )"""

  private val ivfSelect: String = s"""
      SELECT qid, vec_id, cosine, rn FROM (
        SELECT p.qid, a.vec_id,
               round(list_sum(list_transform(list_zip(p.qv, a.v),
                 s -> s[1] * s[2])) / (p.qnrm * a.nrm), 5) AS cosine,
               row_number() OVER (PARTITION BY p.qid
                 ORDER BY round(list_sum(list_transform(list_zip(p.qv, a.v),
                   s -> s[1] * s[2])) / (p.qnrm * a.nrm), 5) DESC,
                   a.vec_id ASC) AS rn
        FROM assigned a JOIN probes p ON a.cid = p.cid
        WHERE a.vec_id <> p.qid)
      WHERE rn <= $TopK"""

  val oracles: Map[String, String] = Map(
    "q_sim_index_add" -> (ctePrefix + ivfCtes + pqCtes + s"""
      SELECT a.vec_id, a.cid AS list_id, e.codes
      FROM assigned a JOIN (
        SELECT vec_id,
               string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS codes
        FROM pqenc GROUP BY vec_id) e USING (vec_id)
      WHERE a.vec_id % 10 = 7"""),
    "q_sim_mmr" -> (ctePrefix + s""",
      topk AS ($cosineTopkBody),
      tk AS (SELECT qid, vec_id AS cand, cosine AS cosq FROM topk),
      psim AS (
        SELECT t1.qid, t1.cand AS x, t2.cand AS y,
               round(list_sum(list_transform(list_zip(na.v, nb.v),
                 s -> s[1] * s[2])) / (na.nrm * nb.nrm), 5) AS s
        FROM tk t1 JOIN tk t2 ON t1.qid = t2.qid AND t1.cand <> t2.cand
        JOIN normed na ON na.vec_id = t1.cand
        JOIN normed nb ON nb.vec_id = t2.cand),
      p1 AS (
        SELECT qid, cand AS p1,
               CAST(floor(CAST($MmrLambda AS DOUBLE) * cosq * 1e6
                 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS e1
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY cosq DESC, cand ASC) AS rn FROM tk)
        WHERE rn = 1),
      c2 AS (
        SELECT t.qid, t.cand, p.p1,
               CAST(floor((CAST($MmrLambda AS DOUBLE) * t.cosq
                 - CAST($MmrDiv AS DOUBLE) * ps.s) * 1e6
                 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS sc
        FROM tk t JOIN p1 p ON t.qid = p.qid AND t.cand <> p.p1
        JOIN psim ps ON ps.qid = t.qid AND ps.x = t.cand
                    AND ps.y = p.p1),
      p2 AS (
        SELECT qid, p1, cand AS p2, sc AS e2
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY sc DESC, cand ASC) AS rn FROM c2)
        WHERE rn = 1),
      c3 AS (
        SELECT t.qid, t.cand,
               CAST(floor((CAST($MmrLambda AS DOUBLE) * t.cosq
                 - CAST($MmrDiv AS DOUBLE) * greatest(pa.s, pb.s)) * 1e6
                 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS sc
        FROM tk t JOIN p2 p
          ON t.qid = p.qid AND t.cand <> p.p1 AND t.cand <> p.p2
        JOIN psim pa ON pa.qid = t.qid AND pa.x = t.cand
                    AND pa.y = p.p1
        JOIN psim pb ON pb.qid = t.qid AND pb.x = t.cand
                    AND pb.y = p.p2),
      p3 AS (
        SELECT qid, cand AS p3, sc AS e3
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY sc DESC, cand ASC) AS rn FROM c3)
        WHERE rn = 1)
      SELECT qid, 1 AS sel_rank, p1 AS vec_id, e1 AS mmr_e6 FROM p1
      UNION ALL
      SELECT qid, 2 AS sel_rank, p2 AS vec_id, e2 AS mmr_e6 FROM p2
      UNION ALL
      SELECT qid, 3 AS sel_rank, p3 AS vec_id, e3 AS mmr_e6 FROM p3"""),
    "q_sim_hardneg" -> (ctePrefix + s""",
      topk AS ($cosineTopkBody),
      lj AS (
        SELECT t.qid, t.vec_id, t.cosine,
               eq.label AS qlabel, ec.label AS clabel
        FROM topk t
        JOIN embeddings eq ON t.qid = eq.vec_id
        JOIN embeddings ec ON t.vec_id = ec.vec_id),
      bp AS (
        SELECT qid, max(cosine) AS bp FROM lj
        WHERE clabel = qlabel GROUP BY qid),
      negs AS (
        SELECT lj.qid, lj.vec_id, lj.cosine, lj.qlabel, lj.clabel, bp.bp
        FROM lj LEFT JOIN bp USING (qid)
        WHERE clabel <> qlabel)
      SELECT qid, vec_id AS cand, cosine, qlabel, clabel,
             (bp IS NULL OR cosine >= bp) AS is_hard,
             coalesce(bp, CAST(-1.0 AS DOUBLE)) AS best_pos, nrn
      FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id ASC) AS nrn
        FROM negs)
      WHERE nrn <= $HardNegK"""),
    "q_sim_knn" -> (ctePrefix + s""",
      topk AS ($cosineTopkBody),
      votes AS (
        SELECT t.qid, e.label, count(*) AS votes
        FROM topk t JOIN embeddings e ON t.vec_id = e.vec_id
        GROUP BY t.qid, e.label),
      pred AS (
        SELECT qid, label AS predicted, votes FROM (
          SELECT qid, label, votes,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY votes DESC, label ASC) AS rn
          FROM votes)
        WHERE rn = 1)
      SELECT p.qid, e.label, p.predicted, CAST(p.votes AS BIGINT) AS votes,
             e.label = p.predicted AS correct
      FROM pred p JOIN embeddings e ON p.qid = e.vec_id"""),
    "q_sim_clusters" -> ("WITH RECURSIVE " +
      ctePrefix.trim.stripPrefix("WITH") + s""",
      vpairs AS (
        SELECT CAST(a AS VARCHAR) AS a, CAST(b AS VARCHAR) AS b FROM (
          SELECT c.a, c.b,
                 round(list_sum(list_transform(list_zip(x.v, y.v),
                   s -> s[1] * s[2])) / (x.nrm * y.nrm), 5) AS cosine
          FROM ncand c
          JOIN normed x ON c.a = x.vec_id
          JOIN normed y ON c.b = y.vec_id)
        WHERE cosine >= $NearThreshold
      ),
      everts AS (SELECT a AS id FROM vpairs UNION SELECT b FROM vpairs),
      esym AS (SELECT a AS src, b AS dst FROM vpairs
               UNION SELECT b, a FROM vpairs),
      ereach AS (
        SELECT id, id AS lbl FROM everts
        UNION
        SELECT s.dst AS id, r.lbl FROM ereach r JOIN esym s ON s.src = r.id
      ),
      ecc AS (
        SELECT CAST(id AS BIGINT) AS vec_id, min(lbl) AS cluster
        FROM ereach GROUP BY id),
      ecanon AS (
        SELECT cluster, min(vec_id) AS canonical FROM ecc GROUP BY cluster)
      SELECT c.vec_id, n.canonical, c.vec_id = n.canonical AS keep
      FROM ecc c JOIN ecanon n USING (cluster)"""),
    "q_sim_recall" -> (ctePrefix + ivfCtes + pqCtes + pqRerankCtes + s""",
      ex AS ($cosineTopkBody),
      ap AS ($annLshBody),
      iv AS ($ivfSelect)
      SELECT ex.qid, count(*) AS n_exact,
             count(ap.vec_id) AS hit_lsh,
             floor(CAST(count(ap.vec_id) AS DOUBLE) /
               CAST(count(*) AS DOUBLE) * 10000 + CAST(0.5 AS DOUBLE))
               / 10000 AS recall_lsh,
             count(iv.vec_id) AS hit_ivf,
             floor(CAST(count(iv.vec_id) AS DOUBLE) /
               CAST(count(*) AS DOUBLE) * 10000 + CAST(0.5 AS DOUBLE))
               / 10000 AS recall_ivf,
             count(pv.vec_id) AS hit_pq,
             floor(CAST(count(pv.vec_id) AS DOUBLE) /
               CAST(count(*) AS DOUBLE) * 10000 + CAST(0.5 AS DOUBLE))
               / 10000 AS recall_pq,
             count(rr.vec_id) AS hit_pq_rr,
             floor(CAST(count(rr.vec_id) AS DOUBLE) /
               CAST(count(*) AS DOUBLE) * 10000 + CAST(0.5 AS DOUBLE))
               / 10000 AS recall_pq_rr
      FROM ex
      LEFT JOIN ap ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
      LEFT JOIN iv ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
      LEFT JOIN pqtop pv ON ex.qid = pv.qid AND ex.vec_id = pv.vec_id
      LEFT JOIN pqrr rr ON ex.qid = rr.qid AND ex.vec_id = rr.vec_id
      GROUP BY ex.qid"""),
    "q_sim_pq" -> (ctePrefix + pqCtes + """
      SELECT qid, vec_id, ad6, rn FROM pqtop"""),
    "q_sim_pq_rerank" -> (ctePrefix + pqCtes + pqRerankCtes + """
      SELECT qid, vec_id, cosine, rn FROM pqrr"""),
    "q_sim_ivfpq" -> (ctePrefix + ivfCtes + pqCtes + s"""
      SELECT qid, vec_id, ad6, rn FROM (
        SELECT qid, vec_id, ad6,
               row_number() OVER (PARTITION BY qid
                 ORDER BY ad6 ASC, vec_id ASC) AS rn
        FROM (
          SELECT p.qid, e.vec_id, CAST(sum(d.pd6) AS BIGINT) AS ad6
          FROM pqenc e
          JOIN assigned a ON e.vec_id = a.vec_id
          JOIN probes p ON a.cid = p.cid
          JOIN pqdtab d ON d.qid = p.qid AND d.m = e.m AND d.cid = e.code
          WHERE e.vec_id <> p.qid
          GROUP BY p.qid, e.vec_id))
      WHERE rn <= $TopK"""),
    "q_sim_quantize" -> """
      SELECT vec_id, round(scale, 9) AS scale,
             array_to_string(list_transform(v,
               x -> CAST(floor(x / scale + 0.5) AS BIGINT)), ',') AS q
      FROM (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings)
      WHERE scale > 0""",
    "q_sim_cosine_topk" -> (ctePrefix + cosineTopkBody),
    "q_sim_embed_near" -> (ctePrefix + embedNearBody),
    "q_sim_near_q8" -> (ctePrefix + s""",
      q8 AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(x / scale +
                 CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q
        FROM (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM normed)
        WHERE scale > 0),
      q8n AS (
        SELECT vec_id, q,
               CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
                 AS qq
        FROM q8)
      SELECT a, b, cos8 FROM (
        SELECT c.a, c.b,
               round(CAST(list_sum(list_transform(list_zip(xa.q, xb.q),
                 z -> z[1] * z[2])) AS DOUBLE) /
                 (sqrt(CAST(xa.qq AS DOUBLE)) * sqrt(CAST(xb.qq AS DOUBLE))),
                 5) AS cos8
        FROM ncand c
        JOIN q8n xa ON c.a = xa.vec_id
        JOIN q8n xb ON c.b = xb.vec_id)
      WHERE cos8 >= $NearThreshold"""),
    "q_sim_ivf" -> (ctePrefix + ivfCtes + "\n" + ivfSelect),
    "q_sim_ann_lsh" -> (ctePrefix + annLshBody))
}
