package graft.enrich

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Nominatim-style mirror geocoding: candidate shaping (tiny-address
  * skip, country restriction, top-1) and the cached-response path — a
  * second run with the gazetteer removed must still geocode entirely
  * from the cache.
  */
class NominatimSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def gaz = Seq(
    (10L, "node", "5", "city1", "c3", "5 Market Street, City1, C3",
      "C3", "City1", "State0", "10010"),
    (11L, "way", "5", "city1", "c4", "5 Market Street, City1, C4",
      "C4", "City1", "State1", "10011"),
    (12L, "node", "9", "city2", "c3", "9 High Street, City2, C3",
      "C3", "City2", "State2", "10012"))
    .toDF("osm_id", "osm_type", "g_num", "g_city", "g_country",
      "display_name", "g_country_name", "g_city_name", "g_state_name",
      "g_postcode")

  private def addrs = Seq(
    ("a1", "5   market  street   CITY1", "C3"), // country restricts → osm 10
    ("a2", "5 market street city1", null),      // no country → min osm id 10
    ("a3", "x st", "C3"),                       // tiny → skipped
    ("a4", "9 market street city2", "C9"))      // wrong country → no result
    .toDF("id", "full", "country")

  test("geocode: squash, country restriction, top-1 per address") {
    val out = new NominatimEnricher(gaz).geocode(spark, addrs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("a1" -> "osm-node-10", "a2" -> "osm-node-10"))
  }

  test("cache TTL path: second run geocodes from cache alone") {
    val path = SparkSpec.tempDir("nomcache") + "/cache"
    val cache = new ResponseCache(path)
    val first = new NominatimEnricher(gaz, Some(cache))
      .geocode(spark, addrs).orderBy("id").collect()
    assert(first.map(_.getString(0)).toSeq === Seq("a1", "a2"))

    // gazetteer gone — only the cache can answer now
    val empty = gaz.limit(0)
    val second = new NominatimEnricher(empty, Some(cache))
      .geocode(spark, addrs).orderBy("id").collect()
    assert(second.map(_.getString(0)).toSeq === Seq("a1", "a2"))
    assert(second.map(_.getString(1)).toSeq ===
      first.map(_.getString(1)).toSeq)
    // full result payload survives the cache round-trip
    assert(second.map(_.getString(2)).toSeq ===
      first.map(_.getString(2)).toSeq)
  }
}
