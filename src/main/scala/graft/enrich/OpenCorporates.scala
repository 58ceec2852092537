package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions.lower
import graft.text.Territories

/** OpenCorporates-style company-registry enricher in mirror form
  * (reference `enrich/opencorporates.py:25-286`). OpenCorporates
  * publishes bulk data; at scale the registry is mirrored into a table
  * and enrichment is a join, not per-entity HTTP — the per-request
  * pagination (≤8 pages) and 429-quota backoff of the reference
  * collapse away, while every piece of its *shaping* logic is kept:
  *
  *  - query gating (`match`, `:93-101`): only matchable
  *    Company/Organization/LegalEntity schemata, and entities that
  *    already carry an `opencorporatesUrl` are not re-searched;
  *  - `clean_query` (`:121-129`): the API's reserved characters are
  *    replaced by spaces and runs of whitespace squashed;
  *  - `filter_ftm_countries` (`:131-146`): country codes resolve to
  *    their administering ISO country, historical/unknown codes drop
  *    out ([[Territories.ftmCountry]]);
  *  - the jurisdiction skip list (`:55-57`, default xk/su): a query
  *    whose *entire* country set is skip-listed is not searched at
  *    all — but a query whose codes all drop out in filtering searches
  *    unrestricted, exactly like the reference;
  *  - `country_codes` restriction (`:225-227`): when any countries
  *    survive, candidate companies must sit in one of them (the
  *    jurisdiction's country is its code before the `_` subdivision,
  *    `jurisdiction_to_country`, `:148-151`);
  *  - `company_entity` (`:152-192`): matched registry rows shape into
  *    Company entities with id `oc-<slugified URL path>`
  *    (`make_entity_id`, `:115-119`).
  */
final class OpenCorporatesEnricher(registry: DataFrame,
    skipJurisdictions: Set[String] = Set("xk", "su")) {

  import OpenCorporatesEnricher._

  /** Candidate companies for query entities
    * `(id, schema, caption, countries: array<string>, oc_url)` against
    * the mirrored registry. One output row per (query, company) match.
    */
  def searchCompanies(queries: DataFrame): DataFrame = {
    val parentM = typedlit(Territories.administeringParentMap)
    val isoLit = typedlit(Territories.isoCountryCodes.toSeq.sorted)
    val histLit = typedlit(Territories.historicalCodes.toSeq.sorted)
    val skipLit = typedlit(skipJurisdictions.toSeq.sorted)

    val q = queries
      .filter(col("schema").isin("Company", "Organization", "LegalEntity"))
      .filter(col("oc_url").isNull) // already linked: nothing to search
      .withColumn("q_name", cleanQuery(col("caption")))
      .filter(length(col("q_name")) > 0)
      // filter_ftm_countries: resolve parents, drop historical/unknown
      .withColumn("q_countries",
        filter(
          transform(coalesce(col("countries"), array()),
            c => {
              val lc = lower(c)
              when(array_contains(histLit, lc), lit(null: String))
                .otherwise(coalesce(element_at(parentM, lc), lc))
            }),
          c => c.isNotNull && array_contains(isoLit, c)))
      // skip only when every surviving country is skip-listed
      .filter(size(col("q_countries")) === 0 ||
        size(array_except(col("q_countries"), skipLit)) > 0)
      .select(col("id").as("query_id"), col("q_name"), col("q_countries"))

    val g = registry
      .withColumn("g_name", cleanQuery(col("name")))
      .withColumn("g_country", split(col("jurisdiction_code"), "_")(0))

    q.join(g, q("q_name") === g("g_name") &&
      (size(q("q_countries")) === 0 ||
        array_contains(q("q_countries"), g("g_country"))))
  }

  /** `company_entity`: shape matched registry rows into the flat
    * Company-entity columns the reference emits (`:152-192`), with
    * `oc-<slug>` ids from the URL path (`make_entity_id`).
    */
  def companyEntities(matches: DataFrame): DataFrame =
    matches.select(
      col("query_id"),
      concat(lit("oc-"), slugifyPath(col("opencorporates_url")))
        .as("match_id"),
      col("name"),
      col("g_country").as("jurisdiction"),
      col("company_number").as("registration_number"),
      col("company_type").as("legal_form"),
      col("incorporation_date"),
      col("current_status").as("status"))

  /** Gated search + entity shaping in one call. */
  def enrich(queries: DataFrame): DataFrame =
    companyEntities(searchCompanies(queries))
}

object OpenCorporatesEnricher {

  /** `clean_query` (`opencorporates.py:33,121-129`): reserved search
    * characters become spaces, whitespace squashes, text lowercases
    * for the case-insensitive registry match.
    */
  def cleanQuery(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "['\"|&()\\[\\]{}^~*?:;!+\\-/<>@#$%`\\\\]",
        " "),
      "\\s+", " "))

  /** `make_entity_id` (`:115-119`): slugify the URL path — lowercase,
    * non-alphanumeric runs collapse to `-`, edges trimmed.
    */
  def slugifyPath(url: Column): Column = {
    val path = regexp_extract(url, "^[a-z]+://[^/]+(/.*)$", 1)
    regexp_replace(regexp_replace(lower(path), "[^a-z0-9]+", "-"),
      "^-+|-+$", "")
  }
}
