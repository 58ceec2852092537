package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions.lower

/** OpenFIGI-style securities enricher in mirror form (reference
  * `enrich/openfigi.py:15-128`). OpenFIGI's mapping database is
  * mirrored into a table `(figi, composite_figi, name, isin, ticker,
  * security_type, security_description)`; the per-request pagination
  * (`search`, `:50-66`) and POST-batch mapping calls collapse into
  * joins while the reference's shaping is preserved:
  *
  *  - `match_security` (`:82-99`): Security entities look up each ISIN
  *    and keep only composite-level instruments
  *    (`figi == compositeFIGI`, a missing composite counts as equal);
  *    the match keeps the *query* entity's id (`security.id =
  *    entity.id`, `:93`) and carries isin/figiCode/ticker/type;
  *  - `match_organization` (`:68-80`): Organization entities search by
  *    each name; hits shape into public companies with id
  *    `figi-company-<sha1(name slug)>` (`make_company_id`, `:43-44`,
  *    FtM `make_entity_id`) and `topics=corp.public`.
  */
final class OpenFigiEnricher(mapping: DataFrame) {

  import OpenFigiEnricher._

  /** `match_security`: queries `(id, schema, isin)` → one row per
    * (query, composite instrument) with the query's id kept.
    */
  def matchSecurities(queries: DataFrame): DataFrame = {
    val q = queries
      .filter(col("schema") === "Security" && col("isin").isNotNull)
      .select(col("id").as("query_id"), col("isin"))
    q.join(mapping, Seq("isin"))
      .filter(col("composite_figi").isNull ||
        col("figi") === col("composite_figi"))
      .select(col("query_id"), col("isin"),
        col("figi").as("figi_code"), col("ticker"),
        col("security_type").as("type"))
  }

  /** `match_organization`: queries `(id, schema, name)` → matched
    * issuers as Company entities `figi-company-<sha1>`.
    */
  def matchOrganizations(queries: DataFrame): DataFrame = {
    val q = queries
      .filter(col("schema").isin("Organization", "Company") &&
        col("name").isNotNull)
      .select(col("id").as("query_id"), col("name").as("q_name"))
    q.join(mapping.select(col("name")).distinct(),
      q("q_name") === mapping("name"))
      .select(col("query_id"), companyId(col("name")).as("match_id"),
        col("name"), lit("corp.public").as("topics"))
  }
}

object OpenFigiEnricher {

  /** `make_company_id` (`openfigi.py:43-44`): FtM `make_entity_id` is
    * the sha1 of the slugified key — reproduced with native sha1 so
    * ids agree across engines.
    */
  def companyId(name: Column): Column = {
    val slug = regexp_replace(regexp_replace(lower(name),
      "[^a-z0-9]+", "-"), "^-+|-+$", "")
    concat(lit("figi-company-"), sha1(slug))
  }
}
