package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing BrightQuery query: orders play the mirrored
  * legal-entity corpus, customers the query organizations. Exercises
  * the legal→org name fallback, the id guards (missing ids, overlong
  * ids, foreign prefixes), the `bqo-` organization fallback id, the
  * skip-jurisdiction gate and the revenue/headcount top-10 window.
  * The oracle recomputes everything arithmetically.
  */
object BrightQueryQueries {

  def records(s: SparkSession, d: String): DataFrame = {
    val o = col("o_orderkey")
    // every mirror column derives from o_orderkey, and the orders scan
    // is one row group (1 task) — shuffle the skinny key column first
    // (~1 MB) so the heavy synthesis (date formatting, id strings)
    // runs at full parallelism instead of in a single 2 s map task
    graft.Tables.orders(s, d).select(o)
      .repartition(s.sparkContext.defaultParallelism)
      .select(
      when(o % 11 === 0, lit(null).cast("string"))
        .when(o % 19 === 0,
          concat(lit("bq-"), lit("x" * 300)))
        .when(o % 23 === 0, concat(lit("zz-"), o.cast("string")))
        .otherwise(concat(lit("bq-le-"), o.cast("string")))
        .as("bq_legal_entity_id"),
      when(o % 17 === 0 && o % 11 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("Org "), (o % 900).cast("string")))
        .as("bq_organization_id"),
      when(o % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("BQ Corp "), (o % 600).cast("string")))
        .as("bq_legal_entity_name"),
      concat(lit("BQ Org "), (o % 900).cast("string"))
        .as("bq_organization_name"),
      (o * 37 % 10000).as("bq_revenue"),
      (o % 500).as("bq_employees"),
      concat(lit("https://bq"), o.cast("string"), lit(".example.com"))
        .as("bq_website"),
      concat(lit("Addr "), (o % 50).cast("string"))
        .as("bq_legal_entity_address_summary"),
      concat(lit("S"), (o % 50).cast("string"))
        .as("bq_legal_entity_jurisdiction_code"),
      date_format(make_date(lit(1950) + o % 70, o % 12 + 1, o % 28 + 1),
        "yyyy-MM-dd").as("bq_legal_entity_date_founded"))
  }

  def orgQueries(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    graft.Tables.customer(s, d).select(
      concat(lit("b:"), k.cast("string")).as("id"),
      when(k % 8 === 0, "Person").otherwise("Organization").as("schema"),
      concat(
        array(concat(lit("BQ Corp "), (k % 600).cast("string"))),
        when(k % 6 === 0,
          array(concat(lit("BQ Org "), (k % 900).cast("string"))))
          .otherwise(array().cast("array<string>"))).as("names"),
      when(k % 10 === 0, array(lit("xk")))
        .when(k % 3 === 0, array().cast("array<string>"))
        .otherwise(array(lit("us"))).as("countries"),
      when(k % 4 === 0, array(lit("Short"),
        lit("A much longer address line")))
        .otherwise(array().cast("array<string>")).as("addresses"))
  }

  /** The mirror as a lake artifact (ingest builds it — see
    * graft.Caches.ensureAll): production's BrightQuery corpus IS a
    * stored table, and synthesizing it inline per query put the whole
    * fixture arithmetic (plus the filter trees predicate-pushdown
    * re-inlines onto it) into one single-row-group scan task. The
    * artifact scans as 32 files, so the match window's map side runs
    * at session parallelism.
    */
  def recordsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "bq_mirror")(records(s, d))

  def enrichQ(s: SparkSession, d: String): DataFrame =
    new BrightQueryEnricher(recordsCk(s, d)).enrich(orgQueries(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_enrich_brightquery" -> (enrichQ _))

  val oracles: Map[String, String] = Map(
    "q_enrich_brightquery" -> """
    WITH m AS (
      SELECT o_orderkey AS o,
             CASE WHEN o_orderkey % 13 = 0
                  THEN 'BQ Org ' || CAST(o_orderkey % 900 AS VARCHAR)
                  ELSE 'BQ Corp ' || CAST(o_orderkey % 600 AS VARCHAR)
                  END AS r_name,
             CASE WHEN o_orderkey % 11 <> 0
                  THEN 'bq-le-' || CAST(o_orderkey AS VARCHAR)
                  ELSE 'bqo-org-' || CAST(o_orderkey % 900 AS VARCHAR)
                  END AS match_id,
             o_orderkey * 37 % 10000 AS rev, o_orderkey % 500 AS emp
      FROM orders
      WHERE (o_orderkey % 11 <> 0 AND o_orderkey % 19 <> 0
             AND o_orderkey % 23 <> 0)
         OR (o_orderkey % 11 = 0 AND o_orderkey % 17 <> 0)
    ),
    q AS (
      SELECT 'b:' || CAST(c_custkey AS VARCHAR) AS query_id,
             'BQ Corp ' || CAST(c_custkey % 600 AS VARCHAR) AS qname
      FROM customer WHERE c_custkey % 8 <> 0 AND c_custkey % 10 <> 0
      UNION ALL
      SELECT 'b:' || CAST(c_custkey AS VARCHAR),
             'BQ Org ' || CAST(c_custkey % 900 AS VARCHAR)
      FROM customer
      WHERE c_custkey % 8 <> 0 AND c_custkey % 10 <> 0
        AND c_custkey % 6 = 0
    ),
    j AS (
      SELECT q.query_id, m.*,
             row_number() OVER (PARTITION BY q.query_id, q.qname
               ORDER BY m.rev DESC, m.emp DESC, m.match_id ASC) AS rn
      FROM q JOIN m ON q.qname = m.r_name
    )
    SELECT query_id, match_id, r_name AS name,
           'Org ' || CAST(o % 900 AS VARCHAR) AS org_id,
           CASE WHEN o % 11 <> 0
                THEN 'bq-le-' || CAST(o AS VARCHAR) END AS entity_id,
           'https://bq' || CAST(o AS VARCHAR) || '.example.com'
             AS website,
           'Addr ' || CAST(o % 50 AS VARCHAR) AS address,
           'S' || CAST(o % 50 AS VARCHAR) AS jurisdiction,
           strftime(make_date(1950 + o % 70, o % 12 + 1, o % 28 + 1),
             '%Y-%m-%d') AS incorporation_date
    FROM j WHERE rn <= 10""")
}
