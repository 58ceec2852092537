package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
  * the embedding corpus with k-means lists, then deduplicate ONLY
  * within each cluster — the pairwise cosine work is bounded by cluster
  * size instead of n², which is the whole trick that makes
  * embedding-level dedup feasible on web-scale corpora.
  *
  * Relational form here:
  *  1. nearest-centroid assignment (the same linear n×C broadcast
  *     argmax as IVF / the k-means step — the corpus never self-joins
  *     globally, centroid count C grows with n so per-cluster size
  *     stays bounded);
  *  2. rank cluster members by cosine-to-centroid ASCENDING (the
  *     paper keeps the LOW-centroid-similarity representative of each
  *     duplicate group — the "edge" point — preserving diversity);
  *  3. a member is dropped iff some earlier-ranked member of the same
  *     cluster is within [[Eps]] cosine — the paper's upper-triangular
  *     max-similarity rule, expressed as one intra-cluster equi-join
  *     (shuffle key = cluster id) instead of a materialized n_c×n_c
  *     similarity matrix. The witness (earliest such neighbor) is kept
  *     for auditability.
  *
  * Determinism: both ranking windows order by raw-double cosines, which
  * agree bit-for-bit across engines because both fold the dot product
  * left-to-right in IEEE doubles (the established q_sim_kmeans rule);
  * the drop decision compares the 5-decimal-rounded pair cosine.
  */
object SemDedup {

  /** Duplicate threshold — aligned with the corpus's near-dup scale
    * (q_sim_embed_near's 0.4; production text embeddings use ~0.95+).
    */
  val Eps = 0.4

  def semdedupQ(s: SparkSession, d: String): DataFrame = {
    val p = SimilarityQueries.nearPreparedCk(s, d)
    val cent = SimilarityQueries.ivfCentroids(p,
      SimilarityQueries.centroidMod(s, d))
    // nearest-centroid argmax keeping the winning cosine (ties → min cid)
    val asg = p.crossJoin(cent)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
        (Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
          .as("csim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cid")).as("ncid"), col("cid"),
        col("v"), col("nrm"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.v").as("v"),
        col("m.nrm").as("nrm"), col("m.csim").as("csim"))
    // localCheckpoint before the fan-out: ranked feeds both self-join
    // sides and the final left join — without it each consumer
    // re-inlines the n×C assignment product (the PLANS.md fan-out
    // rule). Checkpoint, not a persist pin: the rows carry the vector
    // arrays, and persist's columnar cache re-decodes arrays per scan
    // (the nearPreparedCk measurement) — raw-row blocks are the only
    // decode-once form, and this table is MBs, not corpus-text-sized.
    val ranked = asg.withColumn("rnk",
      row_number().over(Window.partitionBy(col("cid"))
        .orderBy(col("csim").asc, col("vec_id").asc)))
      .localCheckpoint(true)
    val l = ranked.select(col("cid"), col("rnk").as("lrnk"),
      col("vec_id").as("lid"), col("v").as("lv"), col("nrm").as("lnrm"))
    val r = ranked.select(col("cid"), col("rnk").as("rrnk"),
      col("vec_id").as("rid"), col("v").as("rv"), col("nrm").as("rnrm"))
    val dropped = l.join(r, Seq("cid"))
      .filter(col("lrnk") < col("rrnk"))
      .select(col("cid"), col("rid"), col("lrnk"), col("lid"),
        round(Similarity.dot(col("lv"), col("rv")) /
          (col("lnrm") * col("rnrm")), 5).as("cos"))
      .filter(col("cos") >= Eps)
      .groupBy(col("cid"), col("rid"))
      .agg(min(struct(col("lrnk"), col("lid"))).as("m"))
      .select(col("rid").as("vec_id"), col("m.lid").as("witness"))
    ranked.select(col("vec_id"), col("cid"), col("rnk"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("rnk"),
        col("witness").isNull.as("keep"),
        coalesce(col("witness"), lit(-1L)).as("witness"))
  }

  // ---------------------------------------------------------------- oracle

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_semdedup" -> (semdedupQ _))

  val oracles: Map[String, String] = Map(
    "q_sim_semdedup" -> (SimilarityQueries.ctePrefix + s"""
      , cents AS (
        SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM normed
        WHERE vec_id % ${SimilarityQueries.CentroidModSql} = 0),
      csims AS (
        SELECT n.vec_id, n.v, n.nrm, c.cid,
               list_sum(list_transform(list_zip(n.v, c.cv),
                 s -> s[1] * s[2])) / (n.nrm * c.cnrm) AS csim
        FROM normed n, cents c),
      asg AS (
        SELECT vec_id, v, nrm, cid, csim,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY csim DESC, cid ASC) AS arn
        FROM csims),
      ranked AS (
        SELECT vec_id, v, nrm, cid, csim,
               row_number() OVER (PARTITION BY cid
                 ORDER BY csim ASC, vec_id ASC) AS rnk
        FROM asg WHERE arn = 1),
      pairs AS (
        SELECT l.cid, r.vec_id AS rid, l.rnk AS lrnk, l.vec_id AS lid,
               round(list_sum(list_transform(list_zip(l.v, r.v),
                 s -> s[1] * s[2])) / (l.nrm * r.nrm), 5) AS cos
        FROM ranked l JOIN ranked r
          ON l.cid = r.cid AND l.rnk < r.rnk),
      dropped AS (
        SELECT rid AS vec_id, min_by(lid, lrnk) AS witness
        FROM pairs WHERE cos >= CAST($Eps AS DOUBLE)
        GROUP BY cid, rid)
      SELECT r.vec_id, r.cid, r.rnk, d.witness IS NULL AS keep,
             coalesce(d.witness, -1) AS witness
      FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id"""))
}
