package graft.enrich

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceFiles, SparkSpec}
import graft.store.EntityStore

/** Pins the enricher-config loader on the reference's OWN config files
  * (`/root/reference/enrichers/<name>.yml`) and the `make_enricher`
  * semantics: type-path validation, `${VAR}` expansion, defaults, and
  * a config-driven yente instantiation that scopes its mirror.
  */
class EnricherConfigSpec extends AnyFunSuite {
  import SparkSpec.spark
  import EnricherConfigs._

  private def config(name: String) = ReferenceFiles(s"enrichers/$name")

  test("parses the reference offshoreleaks config verbatim") {
    val env = Map("GRAPH_API_KEY" -> "sekrit")
    val cfg = load(config("offshoreleaks.yml"), env.get)
    assert(cfg.name === "offshoreleaks")
    assert(cfg.title === "ICIJ OffshoreLeaks")
    assert(cfg.tpe === "nomenklatura.enrich.yente:YenteEnricher")
    assert(cfg.clazz === "YenteEnricher")
    assert(cfg.api === Some("https://api.graph.opensanctions.org/"))
    assert(cfg.dataset === "icij_offshoreleaks")
    assert(cfg.apiKey === Some("sekrit"))
    assert(cfg.stripNamespace)
    assert(cfg.cacheDays === 90)
  }

  test("the other reference configs parse with their defaults") {
    val nom = load(config("nominatim.yml"), _ => None)
    assert(nom.clazz === "NominatimEnricher")
    assert(nom.cacheDays === 90) // common.py default
    assert(!nom.stripNamespace)
    val wd = load(config("wikidata.yml"), _ => None)
    assert(wd.clazz === "WikidataEnricher")
    assert(wd.depth === 1)
    assert(wd.cacheDays === 10)
  }

  test("expansion and validation follow the reference loader") {
    // unset vars stay verbatim (os.path.expandvars), set ones expand
    assert(expandVars("${A}/x/$B", Map("A" -> "1").get) === "1/x/$B")
    // empty api_key after expansion falls back to YENTE_API_KEY
    val cfg = parse("type: m:YenteEnricher\napi_key: ${NOPE2}\n",
      Map("NOPE2" -> " ", "YENTE_API_KEY" -> "yk").get)
    assert(cfg.apiKey === Some("yk"))
    // a colon-less type path is rejected like make_enricher
    intercept[IllegalArgumentException] {
      parse("type: not_an_import_path\n").tpe
    }
    // a non-yente config cannot instantiate the yente mirror
    intercept[IllegalArgumentException] {
      makeYente(parse(
        "type: nomenklatura.enrich.nominatim:NominatimEnricher\n", _ => None),
        spark.range(0).toDF())
    }
  }

  test("config-driven yente scopes its mirror to the dataset") {
    import spark.implicits._
    val entities = Seq(
      ("q1", "Person", Map("name" -> Seq("Erika Example"))),
      ("m1", "Person", Map("name" -> Seq("Erika Example"))),
      ("m2", "Person", Map("name" -> Seq("Erika Example"))))
      .toDF("id", "schema", "properties")
    // the mirror holds the same person under two datasets; the
    // offshoreleaks config must match ONLY the icij_offshoreleaks one
    val mirror = EntityStore.statements(
        entities.filter(col("id") === "m1"), "icij_offshoreleaks")
      .unionByName(EntityStore.statements(
        entities.filter(col("id") === "m2"), "other_ds"))
    val q = EntityStore.statements(
      entities.filter(col("id") === "q1"), "local")
    val cfg = load(config("offshoreleaks.yml"),
      Map("GRAPH_API_KEY" -> "k").get)
    val enricher = makeYente(cfg, mirror)
    val cands = enricher.matchEntities(spark, q).collect()
    assert(cands.map(_.getString(1)).toSet === Set("m1"))
    // source_url comes from the config's api endpoint
    assert(cands.forall(_.getString(4) ===
      "https://api.graph.opensanctions.org/entities/m1"))
  }
}
