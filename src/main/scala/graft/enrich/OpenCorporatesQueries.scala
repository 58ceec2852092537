package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing OpenCorporates enrichment query: suppliers play the
  * mirrored company registry, customers the query entities. The mirror
  * carries messy text (mixed case, API-reserved characters, subdivided
  * jurisdiction codes, full URLs) that the Spark side genuinely parses
  * — clean_query, URL-path slugify, jurisdiction split, territory
  * resolution — while the DuckDB oracle recomputes the expected result
  * arithmetically from the keys, checking the parsing against an
  * independent path.
  */
object OpenCorporatesQueries {

  private val Codes = Seq("de", "fr", "gb", "us", "nl", "pl", "es", "it",
    "se", "pt")

  /** Registry mirror from supplier: one company per supplier, name
    * keyed on `s_suppkey % 200`, jurisdiction cycling through ten ISO
    * codes with a `_z<n>` subdivision on every fourth row.
    */
  def registry(s: SparkSession, d: String): DataFrame = {
    val codes = typedlit(Codes)
    graft.Tables.supplier(s, d).select(
      concat(lit("Acme Corp "), (col("s_suppkey") % 200).cast("string"))
        .as("name"),
      concat(lit("R"), col("s_suppkey").cast("string"))
        .as("company_number"),
      concat(element_at(codes, (col("s_suppkey") % 10 + 1).cast("int")),
        when(col("s_suppkey") % 4 === 0,
          concat(lit("_z"), (col("s_suppkey") % 5).cast("string")))
          .otherwise(lit(""))).as("jurisdiction_code"),
      concat(lit("Type "), (col("s_suppkey") % 3).cast("string"))
        .as("company_type"),
      date_format(make_date(lit(1980) + col("s_suppkey") % 40,
        col("s_suppkey") % 12 + 1, col("s_suppkey") % 28 + 1),
        "yyyy-MM-dd").as("incorporation_date"),
      when(col("s_suppkey") % 2 === 0, "Active").otherwise("Dissolved")
        .as("current_status"))
      .withColumn("opencorporates_url",
        concat(lit("https://opencorporates.com/companies/"),
          col("jurisdiction_code"), lit("/"), col("company_number")))
  }

  /** Query entities from customer: captions with API-reserved
    * characters and messy spacing (every 19th unparseable), a Person
    * on every 13th row and an already-linked entity on every 11th
    * (both skipped), country sets exercising the no-country,
    * dependent-territory (gg→gb), unknown-code (zz), historical
    * (suhh) and skip-listed (xk) paths.
    */
  def companyQueries(s: SparkSession, d: String): DataFrame = {
    val codes = typedlit(Codes)
    val k = col("c_custkey")
    graft.Tables.customer(s, d).select(
      concat(lit("c:"), k.cast("string")).as("id"),
      when(k % 13 === 0, "Person").when(k % 13 === 5, "Organization")
        .otherwise("Company").as("schema"),
      when(k % 19 === 0, "(&*)").otherwise(
        concat(lit("  Acme  (Corp)  "), (k % 197).cast("string"),
          lit(" "))).as("caption"),
      when(k % 11 === 0,
        "https://opencorporates.com/companies/gb/R0").as("oc_url"),
      when(k % 3 === 0, array().cast("array<string>"))
        .when(k % 3 === 2, array(lit("xk")))
        .otherwise(concat(
          array(when(k % 7 === 0, "gg")
            .otherwise(element_at(codes, (k % 10 + 1).cast("int")))),
          when(k % 5 === 3, array(lit("zz")))
            .when(k % 5 === 2, array(lit("SUHH")))
            .otherwise(array().cast("array<string>"))))
        .as("countries"))
  }

  def enrichQ(s: SparkSession, d: String): DataFrame =
    new OpenCorporatesEnricher(registry(s, d))
      .enrich(companyQueries(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_enrich_companies" -> (enrichQ _))

  val oracles: Map[String, String] = Map(
    "q_enrich_companies" -> """
    WITH q AS (
      SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS query_id,
             c_custkey % 197 AS nk,
             CASE WHEN c_custkey % 3 = 0 THEN NULL
                  WHEN c_custkey % 7 = 0 THEN 'gb'
                  ELSE (['de','fr','gb','us','nl','pl','es','it','se','pt'])
                         [c_custkey % 10 + 1] END AS eff
      FROM customer
      WHERE c_custkey % 13 <> 0 AND c_custkey % 11 <> 0
        AND c_custkey % 19 <> 0 AND c_custkey % 3 <> 2
    ),
    g AS (
      SELECT s_suppkey AS s, s_suppkey % 200 AS nk,
             (['de','fr','gb','us','nl','pl','es','it','se','pt'])
               [s_suppkey % 10 + 1] AS ctry,
             CASE WHEN s_suppkey % 4 = 0
                  THEN '-z' || CAST(s_suppkey % 5 AS VARCHAR)
                  ELSE '' END AS subdiv
      FROM supplier
    )
    SELECT q.query_id,
           'oc-companies-' || g.ctry || g.subdiv || '-r'
             || CAST(g.s AS VARCHAR) AS match_id,
           'Acme Corp ' || CAST(g.s % 200 AS VARCHAR) AS name,
           g.ctry AS jurisdiction,
           'R' || CAST(g.s AS VARCHAR) AS registration_number,
           'Type ' || CAST(g.s % 3 AS VARCHAR) AS legal_form,
           strftime(make_date(1980 + g.s % 40, g.s % 12 + 1,
             g.s % 28 + 1), '%Y-%m-%d') AS incorporation_date,
           CASE WHEN g.s % 2 = 0 THEN 'Active' ELSE 'Dissolved' END
             AS status
    FROM q JOIN g ON q.nk = g.nk
    WHERE q.eff IS NULL OR q.eff = g.ctry""")
}
