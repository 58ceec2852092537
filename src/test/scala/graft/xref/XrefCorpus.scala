package graft.xref

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.EntityStore

/** A handful of people and companies with exact and near duplicates,
  * as a statement table: enough for xref to emit merges and
  * suggestions, small enough to run on the shared test session.
  */
object XrefCorpus {
  def statements(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val entities = Seq(
      ("p1", "Person", Map("name" -> Seq("Johanna Quandt"),
        "birthDate" -> Seq("1926-06-21"), "nationality" -> Seq("de"))),
      ("p2", "Person", Map("name" -> Seq("Johanna Quandt"),
        "birthDate" -> Seq("1926-06-21"))),
      ("p3", "Person", Map("name" -> Seq("Stefan Quandt"),
        "nationality" -> Seq("de"))),
      ("p4", "Person", Map("name" -> Seq("Susanne Klatten"),
        "address" -> Seq("Seestraße 12, Bad Homburg"))),
      ("p5", "Person", Map("name" -> Seq("Susanne Klaten"),
        "address" -> Seq("Seestrasse 12, Bad Homburg"))),
      ("c1", "Company", Map("name" -> Seq("Bayerische Motoren Werke AG"),
        "jurisdiction" -> Seq("de"), "registrationNumber" -> Seq("HRB 42243"))),
      ("c2", "Company", Map("name" -> Seq("Bayerische Motoren Werke AG"),
        "registrationNumber" -> Seq("HRB-42243"))),
      ("c3", "Company", Map("name" -> Seq("Altana AG"),
        "jurisdiction" -> Seq("de"))))
    EntityStore.statements(entities.toDF("id", "schema", "properties"),
      "corpus")
  }
}
