package graft.store

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[EntityStore.assemble]] in one aggregation against the
  * three-aggregation form it replaced, kept here as the oracle.
  */
class EntityStoreSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  /** Per-(entity, prop) value sets, then the per-entity map, then the
    * per-entity schema/datasets/members, joined back together.
    */
  private def threeAggregations(stmts: DataFrame): DataFrame = {
    val byProp = stmts.filter(col("prop") =!= "id")
      .groupBy(col("canonical_id"), col("prop"))
      .agg(array_sort(collect_set(col("value"))).as("values"))
      .groupBy(col("canonical_id"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("prop"), col("values"))))).as("properties"))
    val meta = stmts.groupBy(col("canonical_id")).agg(
      collect_set(col("schema")).as("schemas"),
      array_sort(collect_set(col("dataset"))).as("datasets"),
      collect_set(col("entity_id")).as("members"))
    meta.join(byProp, Seq("canonical_id"), "left_outer")
      .select(col("canonical_id").as("id"),
        udf((n: Seq[String]) => graft.model.Ftm.commonSchema(n))
          .apply(col("schemas")).as("schema"),
        coalesce(col("properties"), typedLit(Map.empty[String, Seq[String]]))
          .as("properties"),
        col("datasets"),
        array_sort(filter(col("members"), e => e =!= col("canonical_id")))
          .as("referents"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select(col("id"), col("schema"), to_json(col("properties")),
      col("datasets"), col("referents")).collect().toSeq.sortBy(_.getString(0))

  test("assembly in one aggregation equals the three-aggregation form") {
    val stmts = Seq(
      // an id-only entity: empty property map
      ("bare", "bare", "id", "Person", "bare", "d1"),
      // null values, next to a non-null one and alone in a prop
      ("nul", "nul", "id", "Person", "nul", "d1"),
      ("nul", "nul", "name", "Person", null, "d1"),
      ("nul", "nul", "alias", "Person", "b", "d1"),
      ("nul", "nul", "alias", "Person", null, "d2"),
      // duplicate values across members and datasets
      ("dup", "dup", "name", "Person", "Zed", "d1"),
      ("dup", "dup", "name", "Person", "Abe", "d1"),
      ("dup", "dup-2", "name", "Person", "Zed", "d2"),
      ("dup", "dup-2", "country", "Person", "de", "d2"),
      ("dup", "dup-3", "country", "Person", "de", "d2"),
      // a mixed-schema cluster: the merged schema, referents, a prop
      // only one member has
      ("mix", "mix", "id", "LegalEntity", "mix", "d1"),
      ("mix", "mix", "name", "LegalEntity", "Acme", "d1"),
      ("mix", "mix-c", "name", "Company", "ACME Ltd", "d2"),
      ("mix", "mix-c", "registrationNumber", "Company", "HRB 1", "d2"),
      ("mix", "mix-o", "name", "Organization", "Acme", "d3"))
      .toDF("canonical_id", "entity_id", "prop", "schema", "value", "dataset")
    val got = EntityStore.assemble(stmts)
    assert(rows(got) === rows(threeAggregations(stmts)))
    val props = got.select(col("id"), to_json(col("properties")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("bare") === "{}")
    assert(props("nul") === """{"alias":["b"],"name":[]}""")
    assert(props("dup") === """{"country":["de"],"name":["Abe","Zed"]}""")
    assert(got.filter(col("id") === "mix").select("schema", "referents")
      .head() === Row("Company", Seq("mix-c", "mix-o")))
  }

  test("assembly equals the three-aggregation form on the xref corpus") {
    val stmts = graft.xref.XrefCorpus.statements(spark)
      .withColumn("canonical_id",
        regexp_replace(col("canonical_id"), "^(p|c)[12]$", "$1-12"))
    val got = EntityStore.assemble(stmts)
    assert(rows(got) === rows(threeAggregations(stmts)))
    assert(got.filter(col("caption").isNull).count() === 0L)
  }
}
