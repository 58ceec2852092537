package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocker.{Blocker, BlockerQueries}
import graft.store.StarStatements

/** Driver-facing enrichment query: the bulk mirror-matching shape of
  * [[DatasetEnricher]] (reference `enrich/common.py:191-305`) under a
  * DuckDB oracle — local entities (customers) matched against a mirror
  * dataset (suppliers) through the shared term-frequency index, each
  * candidate joined to its mirror statement count (the `expand` pull
  * size, `enrich/common.py:306-353`).
  *
  * Scale: the query side broadcasts into the match join (the mirror —
  * the big side at 100 TB — never shuffles), and the expand join ships
  * only matched candidate ids.
  */
object EnricherQueries {

  private val cfg = BlockerQueries.cfg

  def candidatesQ(s: SparkSession, d: String): DataFrame = {
    val t = BlockerQueries.tfCk(s, d)
    val topk = Blocker.matchTopK(
      t.filter(col("id").startsWith("c:")),
      t.filter(col("id").startsWith("s:")),
      BlockerQueries.compatDf(s), cfg)
    // expand pull-size: restrict the mirror statements to matched
    // candidate ids BEFORE counting — only matched ids shuffle, never
    // one row per mirror entity
    val cids = broadcast(topk.select(col("cid")).distinct())
    val counts = StarStatements(s, d)
      .join(cids, col("id") === col("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n_stmts"))
    topk.join(counts, Seq("cid"))
      .select(col("qid"), col("cid"), col("score"), col("rn"),
        col("n_stmts"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_enrich_candidates" -> (candidatesQ _))

  val oracles: Map[String, String] = Map(
    "q_enrich_candidates" -> (BlockerQueries.ctePrefix + s"""
      , enq AS (SELECT * FROM tf WHERE id LIKE 'c:%'),
      enm AS (SELECT * FROM tf WHERE id LIKE 's:%'),
      en_fields AS (
        SELECT q.id AS qid, t.id AS cid, q.field AS field,
               max(t.weight) AS maxw, count(*) AS n
        FROM enq q
        JOIN enm t
          ON q.token = t.token AND q.field = t.field AND q.id <> t.id
        JOIN compat c ON c.ls = least(q.schema, t.schema)
                    AND c.rs = greatest(q.schema, t.schema)
        GROUP BY q.id, t.id, q.field
      ),
      en_scores AS (
        SELECT qid, cid, round(sum(maxw * (1.0 + ln(n))), 4) AS score
        FROM en_fields GROUP BY qid, cid
      ),
      en_ranked AS (
        SELECT qid, cid, score,
               row_number() OVER w AS rn, first_value(score) OVER w AS best
        FROM en_scores
        WINDOW w AS (PARTITION BY qid ORDER BY score DESC, cid)
      ),
      en_counts AS (
        SELECT id AS cid, CAST(count(*) AS BIGINT) AS n_stmts
        FROM stmts WHERE id LIKE 's:%' GROUP BY id
      )
      SELECT r.qid, r.cid, r.score, r.rn, c.n_stmts
      FROM en_ranked r JOIN en_counts c ON r.cid = c.cid
      WHERE r.rn <= ${cfg.maxCandidates}
        AND r.score >= r.best * ${cfg.minScoreRatio}"""))
}
