package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions.upper

/** PermID-style organization enricher in mirror form (reference
  * `enrich/permid.py:28-204`). The open PermID dataset is mirrored
  * into a table; the reference's batch-CSV record matching becomes a
  * join while its shaping survives:
  *
  *  - `entity_to_queries` (`:50-82`): Organization-schema queries fan
  *    out to (name × country) records, countries upper-cased to their
  *    2-letter code, a wildcard-country record appended when the
  *    product leaves room, the whole product capped at 999 records;
  *  - a `leiCode` on the query is a standard-identifier record — it
  *    matches its organization directly regardless of name;
  *  - `fetch_perm_org` (`:116-164`): matches shape into Companies with
  *    id `lei-<LEI>` when the org carries one else `permid-<id>`
  *    (`:127-128`), multi-line addresses joined on commas (`:140-144`),
  *    the status URI mapped through the two-value STATUS table
  *    (`:22-25,146-149`), and a primary quote adding ticker +
  *    `corp.public` (`:156-163`);
  *  - repeated match URLs deduplicate (`seen_matches`, `:190-194`).
  */
final class PermIdEnricher(orgs: DataFrame, maxRecords: Int = 999) {

  import PermIdEnricher._

  /** Queries `(id, schema, names: array, countries: array, lei)` →
    * one row per matched mirror organization, deduplicated.
    *
    * Plan shape (the r12 fold of this query's fixed overhead): the
    * mirror is scanned ONCE — a Generate emits each org under its two
    * join keys (`name`, and `lei` when present) — and joined once
    * against ONE broadcast record table holding both the (name ×
    * country) product rows and the standard-identifier rows. The two
    * channels are DISJOINT by residuals (a wildcard-country record
    * skips countries the exact records already cover; a name record
    * skips an org the same query's lei record will also match), so
    * the reference's `seen_matches` dedup (`permid.py:190-194`) holds
    * with no distinct shuffle at all: scan → generate → broadcast-join,
    * map-only end to end.
    */
  def matchOrganizations(queries: DataFrame): DataFrame = {
    val q = queries.filter(col("schema").isin("Organization", "Company",
      "PublicBody"))
    // (name × country) product with the wildcard record, capped; the
    // wildcard country joins the set only while the product stays
    // under the cap (`entity_to_queries`, `:58-61`)
    val base = array_distinct(
      transform(col("countries"), c => upper(substring(c, 1, 2))))
    val countrySet = when(size(coalesce(col("countries"),
      array())) === 0, array(lit("")))
      .otherwise(when(
        size(col("names")) * (size(base) + 1) < maxRecords,
        array_union(base, array(lit("")))).otherwise(base))
    val nameRecs = q.select(col("id").as("query_id"),
      col("lei").as("q_lei"), base.as("base"),
      explode(slice(flatten(transform(array_distinct(col("names")), n =>
        transform(countrySet, c => struct(n.as("q_name"),
          c.as("q_country"))))), 1, maxRecords)).as("rec"))
      .select(col("query_id"), lit("name").as("kind"),
        col("rec.q_name").as("key"), col("rec.q_country"), col("q_lei"),
        col("base"))
    val leiRecs = q.filter(col("lei").isNotNull)
      .select(col("id").as("query_id"), lit("lei").as("kind"),
        col("lei").as("key"), lit("").as("q_country"),
        col("lei").as("q_lei"),
        array().cast("array<string>").as("base"))
    val spec = nameRecs.unionByName(leiRecs)

    // one mirror pass: each org exploded under its join keys
    val keyed = orgs.select((orgs.columns.map(col) :+
      explode(when(col("lei").isNotNull,
        array(struct(lit("name").as("kind"), col("name").as("key")),
          struct(lit("lei").as("kind"), col("lei").as("key"))))
        .otherwise(array(struct(lit("name").as("kind"),
          col("name").as("key"))))).as("k")): _*)
    val matched = keyed.join(broadcast(spec),
      col("k.kind") === spec("kind") && col("k.key") === spec("key") &&
        (spec("kind") === "lei" ||
          // name channel: country gate (wildcard rows skip countries
          // the exact records already matched) + lei-channel overlap
          // suppression
          ((col("q_country") === upper(col("country")) ||
            // null-safe wildcard residual: a mirror org with a NULL
            // country (array_contains → NULL) and a query with NULL
            // countries (base itself NULL) must both still match the
            // wildcard record, like the reference's unconditional
            // wildcard row — a bare NULL here silently dropped them
            (col("q_country") === "" &&
              !coalesce(array_contains(
                coalesce(col("base"), array().cast("array<string>")),
                upper(col("country"))), lit(false)))) &&
            (col("q_lei").isNull || col("lei").isNull ||
              col("lei") =!= col("q_lei")))))
    matched.select((Seq(col("query_id")) ++
      orgs.columns.map(c => matched(c))): _*)
  }

  /** `fetch_perm_org` shaping over matched rows. */
  def permOrgEntities(matches: DataFrame): DataFrame =
    matches.select(
      col("query_id"),
      when(col("lei").isNotNull, concat(lit("lei-"), col("lei")))
        .otherwise(concat(lit("permid-"), col("perm_id"))).as("match_id"),
      col("name"),
      upper(col("country")).as("country"),
      col("incorporation_date"),
      statusOf(col("status_uri")).as("status"),
      cleanAddress(col("address_raw")).as("address"),
      col("ticker"),
      when(col("ticker").isNotNull, "corp.public").as("topics"))

  def enrich(queries: DataFrame): DataFrame =
    permOrgEntities(matchOrganizations(queries))
}

object PermIdEnricher {

  /** STATUS URI table (`permid.py:22-25`). */
  def statusOf(uri: Column): Column =
    when(uri === "tr-org:statusActive", "Active")
      .when(uri === "tr-org:statusInActive", "Inactive")

  /** Multi-line address cleanup (`permid.py:140-144`): newlines become
    * comma-joins, empty segments collapse, edges trim.
    */
  def cleanAddress(raw: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(raw, "\n", ", "),
      ",( *,)+", ","), "^[, ]+|[, ]+$", "")
}
