package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions.lower

/** Nominatim-style geocoding enricher in mirror form (reference
  * `enrich/nominatim.py:17-73`): Address entities are geocoded against
  * a mirrored gazetteer table instead of per-address HTTP calls.
  *
  * The reference's candidate shaping is preserved:
  *  - only `Address`-schema queries (`match`, `:50-52`);
  *  - the query string is squashed (`squash_spaces`) and addresses
  *    shorter than 5 chars are skipped (`search_nominatim`, `:29-34`);
  *  - the country of the address restricts the search
  *    (`countrycodes` param, `:36`);
  *  - only the best result per address is kept (`:46-48` FIXME top-1);
  *  - results shape into Address entities `osm-<type>-<id>` with
  *    full/country/city/state/postalCode (`match`, `:53-69`).
  *
  * The gazetteer carries normalized join columns (street number, city
  * token, country code) the way a geocoder's index would; the query
  * side genuinely parses its messy address text. An optional
  * [[ResponseCache]] reproduces the reference's cached-HTTP path
  * (`http_get_json_cached`): hits inside the TTL are served from the
  * cache without touching the gazetteer; fresh results are stored.
  */
final class NominatimEnricher(gazetteer: DataFrame,
    cache: Option[ResponseCache] = None, cacheDays: Int = 14) {

  /** Normalize one address string: lowercase + squash spaces. */
  private def norm(c: org.apache.spark.sql.Column) =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Geocode `(id, full, country)` rows → top-1 result per address:
    * `(id, match_id, full, country, city, state, postalCode)`,
    * materialized before the call returns, so the parsed queries it
    * pinned are released with the call.
    */
  def geocode(s: SparkSession, addresses: DataFrame)
      : DataFrame = graft.Caches.holding { held =>
    // scatter + pin the parsed-query scaffold: it feeds TWO branches
    // (countryful / country-less), and every branch filter plus the
    // join-key isnotnull conditions would otherwise predicate-push the
    // whole regexp pipeline back into the address scan's Condition —
    // the plan dump showed the normalize/extract tree inlined 4× over
    // two single-task scan stages (~1.4 s serial at sf0.1). One 32-way
    // materialization; the branches read the cache.
    val q = held.pin(addresses
      .repartition(
        addresses.sparkSession.sparkContext.defaultParallelism, col("id"))
      .withColumn("q_norm", norm(col("full")))
      .filter(length(col("q_norm")) >= 5) // skip tiny addresses
      .withColumn("q_num", regexp_extract(col("q_norm"), "([0-9]+)", 1))
      .withColumn("q_city", regexp_extract(col("q_norm"), "(city[0-9]+)", 1))
      .withColumn("q_country", lower(col("country")))
      .withColumn("q_key",
        concat_ws("|", col("q_norm"), coalesce(col("q_country"), lit("")))))

    val resultSchema = "match_id string, full string, country string, " +
      "city string, state string, postalCode string"

    val (toSearch, cachedHits) = cache match {
      case Some(c) =>
        val live = c.get(s, cacheDays)
          .select(col("key"), col("text"))
        val joined = q.join(live, q("q_key") === live("key"), "left_outer")
        val hits = joined.filter(col("text").isNotNull)
          .withColumn("r",
            from_json(col("text"), resultSchema, Map.empty[String, String]))
          .select(col("id"), col("r.match_id"), col("r.full"),
            col("r.country"), col("r.city"), col("r.state"),
            col("r.postalCode"))
        (joined.filter(col("text").isNull).drop("key", "text"), Some(hits))
      case None => (q, None)
    }

    // pin the join parallelism: the (num, city) key bytes are tiny so
    // AQE coalesces the exchanges to ~2 partitions, serializing the
    // CPU-heavy probe stage (measured 1.05 s on 2 tasks at sf0.1); an
    // explicit-count repartition is exempt from coalescing, and the
    // 2-key partitioning satisfies the 3-key join's clustering by the
    // subset rule on BOTH joins, so each join runs exchange-free on 32
    // co-partitioned tasks
    val par = toSearch.sparkSession.sparkContext.defaultParallelism
    val ts = toSearch.repartition(par, col("q_num"), col("q_city"))
    // shuffle_hash, NOT broadcast: Spark's size estimate broadcasts the
    // gazetteer (it built the 150k-wide-row hash relation twice, once
    // per branch, ~1 s each at sf0.1 — and at production scale a
    // gazetteer can never broadcast); the explicit co-partitioning
    // already satisfies both branch joins' clustering, and the one
    // exchange is reused across them.
    // PROJECT BEFORE THE EXCHANGE: the rollup joins only need the key
    // columns + osm_id — sharing one exchange with the display-field
    // fetch forced the shuffle to carry every wide string column
    // (display_name, country/city/state names, postcode ≈ 5× the
    // bytes). The fetch instead broadcast-joins the winning ids back
    // onto the RAW artifact scan below, which column-prunes to the
    // display fields and never shuffles.
    val g = gazetteer
      .select(col("g_num"), col("g_city"), col("g_country"), col("osm_id"))
      .repartition(par, col("g_num"), col("g_city"))
      .hint("shuffle_hash")
    // top-1 = min osm_id among matching gazetteer rows — a property of
    // the GAZETTEER KEY alone, so aggregate the gazetteer to one row
    // per key BEFORE the join and the per-address candidate fan-out
    // (key-cardinality × addresses; ~3M intermediate rows at sf0.1,
    // the two 1.2 s probe stages of the plan dump) never materializes.
    // The (num, city) exchange satisfies the groupBy by the subset
    // rule, and map-side partials collapse the aggregate; at gazetteer
    // scale this is the difference between joining an index and
    // joining the raw table.
    //
    // Checkpointed ONCE: the former two-branch plan (countryful /
    // country-less joins) pushed DIFFERENT null-filters into the two
    // rollup subtrees (IsNotNull(g_country) only on the countryful
    // side), so their exchanges never canonicalized equal and
    // ReuseExchange could not fire — the gazetteer was scanned and
    // shuffled TWICE per invocation. The checkpoint is bounded by the
    // gazetteer's (num, city, country) key cardinality, not its row
    // count — rollup-sized at any scale.
    val gMin = g.groupBy(col("g_num"), col("g_city"), col("g_country"))
      .agg(min(col("osm_id")).as("osm_id"))
      .localCheckpoint(true)
    // min is associative: the country-less rollup folds the countryful
    // one (key-count rows) instead of re-aggregating the gazetteer
    val gMinNoC = gMin.groupBy(col("g_num"), col("g_city"))
      .agg(min(col("osm_id")).as("osm_id"))
    // ONE equi-join serves both address shapes: real countries are
    // keyed "c:<country>", the country-less rollup row "" — disjoint
    // for EVERY possible data value (no "c:"-prefixed key can equal
    // ""), so each country-less address maps onto the (num, city)
    // rollup row and each countryful address onto its (num, city,
    // country) row, exactly the former two branches. A null g_country
    // keys to null and never matches, as before; its rows still fold
    // into the country-less rollup. The former two filtered branches
    // each re-shuffled the pinned query scaffold (the same pushdown
    // asymmetry as above); one join = one ts exchange, one probe.
    val lut = gMin
      .select(col("g_num"), col("g_city"),
        concat(lit("c:"), col("g_country")).as("g_ckey"), col("osm_id"))
      .unionByName(gMinNoC.select(col("g_num"), col("g_city"),
        lit("").as("g_ckey"), col("osm_id")))
    val picked = Seq(col("id"), col("q_key"), col("osm_id"))
    val minids = ts
      .withColumn("q_ckey", when(col("q_country").isNotNull,
        concat(lit("c:"), col("q_country"))).otherwise(lit("")))
      .join(lut, col("q_num") === lut("g_num") &&
        col("q_city") === lut("g_city") && col("q_ckey") === lut("g_ckey"))
      .select(picked: _*)
    // each address meets exactly one rollup row → already the winner;
    // the winning ids broadcast back onto the gazetteer to fetch their
    // display fields
    val fresh = broadcast(minids).join(gazetteer, Seq("osm_id"))
      .select(col("id"),
        concat(lit("osm-"), col("osm_type"), lit("-"),
          col("osm_id").cast("string")).as("match_id"),
        col("display_name").as("full"),
        col("g_country_name").as("country"),
        col("g_city_name").as("city"),
        col("g_state_name").as("state"),
        col("g_postcode").as("postalCode"),
        col("q_key"))

    cache.foreach { c =>
      c.put(fresh.select(col("q_key").as("key"),
        to_json(struct(col("match_id"), col("full"), col("country"),
          col("city"), col("state"), col("postalCode"))).as("text")))
    }
    val freshOut = fresh.drop("q_key")
    graft.Caches.checkpoint(
      cachedHits.map(freshOut.unionByName(_)).getOrElse(freshOut))
  }
}
