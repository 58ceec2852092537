package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions.upper

/** Driver-facing PermID query: parts play the mirrored PermID
  * organization table, suppliers the query entities. Exercises the
  * Organization gate, the (name × country) record fan-out with the
  * wildcard country (which, as in the reference, makes country
  * non-restrictive at small record counts), LEI standard-identifier
  * records, lei-/permid- id selection, multi-line address cleanup and
  * the STATUS table. The oracle recomputes the matches arithmetically.
  */
object PermIdQueries {

  private val Codes = Seq("de", "fr", "gb", "us", "nl", "pl", "es", "it",
    "se", "pt")

  def orgs(s: SparkSession, d: String): DataFrame = {
    val codes = typedlit(Codes)
    val p = col("p_partkey")
    graft.Tables.part(s, d).select(
      concat(lit("P"), p.cast("string")).as("perm_id"),
      when(p % 6 === 0,
        concat(lit("LEI"), lpad((p % 400).cast("string"), 17, "0")))
        .as("lei"),
      concat(lit("Perm Org "), (p % 250).cast("string")).as("name"),
      upper(element_at(codes, (p % 10 + 1).cast("int"))).as("country"),
      date_format(make_date(lit(1970) + p % 50, p % 12 + 1, p % 28 + 1),
        "yyyy-MM-dd").as("incorporation_date"),
      concat(lit("Street "), p.cast("string"), lit("\nCity"),
        (p % 7).cast("string"), lit("\n")).as("address_raw"),
      when(p % 2 === 0, "tr-org:statusActive")
        .otherwise("tr-org:statusInActive").as("status_uri"),
      when(p % 4 === 0, concat(lit("TK"), (p % 80).cast("string")))
        .as("ticker"))
  }

  def orgQueries(s: SparkSession, d: String): DataFrame = {
    val codes = typedlit(Codes)
    val k = col("s_suppkey")
    graft.Tables.supplier(s, d).select(
      concat(lit("o:"), k.cast("string")).as("id"),
      when(k % 9 === 0, "Person").otherwise("Organization").as("schema"),
      concat(
        array(concat(lit("Perm Org "), (k % 250).cast("string"))),
        when(k % 5 === 0,
          array(concat(lit("Perm Org "), ((k + 1) % 250).cast("string"))))
          .otherwise(array().cast("array<string>"))).as("names"),
      when(k % 3 === 0, array().cast("array<string>"))
        .otherwise(array(element_at(codes, (k % 10 + 1).cast("int"))))
        .as("countries"),
      when(k % 7 === 0,
        concat(lit("LEI"), lpad((k % 400).cast("string"), 17, "0")))
        .as("lei"))
  }

  /** The PermID org mirror as a lake artifact (built at ingest) — a
    * mirrored record corpus IS a stored table; inline synthesis put
    * the fixture arithmetic on a one-row-group scan task (the
    * bq_mirror / osm_gazetteer pattern).
    */
  def orgsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "permid_orgs")(orgs(s, d))

  def enrichQ(s: SparkSession, d: String): DataFrame =
    new PermIdEnricher(orgsCk(s, d)).enrich(orgQueries(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_enrich_permid" -> (enrichQ _))

  val oracles: Map[String, String] = Map(
    "q_enrich_permid" -> """
    WITH q AS (
      SELECT s_suppkey AS s FROM supplier WHERE s_suppkey % 9 <> 0
    ),
    hits AS (
      SELECT DISTINCT q.s, p.p_partkey AS p
      FROM q JOIN part p
        ON p.p_partkey % 250 = q.s % 250
        OR (q.s % 5 = 0 AND p.p_partkey % 250 = (q.s + 1) % 250)
      UNION
      SELECT q.s, p.p_partkey
      FROM q JOIN part p
        ON q.s % 7 = 0 AND p.p_partkey % 6 = 0
       AND p.p_partkey % 400 = q.s % 400
    )
    SELECT 'o:' || CAST(s AS VARCHAR) AS query_id,
           CASE WHEN p % 6 = 0
                THEN 'lei-LEI' || lpad(CAST(p % 400 AS VARCHAR), 17, '0')
                ELSE 'permid-P' || CAST(p AS VARCHAR) END AS match_id,
           'Perm Org ' || CAST(p % 250 AS VARCHAR) AS name,
           upper((['de','fr','gb','us','nl','pl','es','it','se','pt'])
             [p % 10 + 1]) AS country,
           strftime(make_date(1970 + p % 50, p % 12 + 1, p % 28 + 1),
             '%Y-%m-%d') AS incorporation_date,
           CASE WHEN p % 2 = 0 THEN 'Active' ELSE 'Inactive' END
             AS status,
           'Street ' || CAST(p AS VARCHAR) || ', City'
             || CAST(p % 7 AS VARCHAR) AS address,
           CASE WHEN p % 4 = 0 THEN 'TK' || CAST(p % 80 AS VARCHAR) END
             AS ticker,
           CASE WHEN p % 4 = 0 THEN 'corp.public' END AS topics
    FROM hits""")
}
