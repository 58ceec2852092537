package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OpenFIGI-style securities enricher in mirror form (reference
  * `enrich/openfigi.py:15-128`). OpenFIGI's mapping database is
  * mirrored into a table `(figi, composite_figi, name, isin, ticker,
  * security_type, security_description)`; the per-request pagination
  * (`search`, `:50-66`) and POST-batch mapping calls collapse into
  * joins while the reference's shaping is preserved. Only
  * `match_security` (`:82-99`) is ported, the path `q_enrich_figi`
  * runs: Security entities look up each ISIN and keep only
  * composite-level instruments (`figi == compositeFIGI`, a missing
  * composite counts as equal); the match keeps the *query* entity's id
  * (`security.id = entity.id`, `:93`) and carries
  * isin/figiCode/ticker/type.
  */
final class OpenFigiEnricher(mapping: DataFrame) {

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
}
