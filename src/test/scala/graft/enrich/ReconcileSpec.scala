package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.store.EntityStore

/** Batch reconciliation ([[Reconcile]]) against the reference loop
  * (`wikidata/reconcile.py`): the position store walk, the
  * linked-QID resolution, the decision split with check_candidate
  * suppression, and the full reconcile composition emitting merge
  * edges plus enrich/create QuickStatements.
  */
class ReconcileSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  // a small store: two persons, occupancies, positions (one QID-less)
  def entities: DataFrame = Seq(
    ("p1", "Person", Map(
      "name" -> Seq("Johanna Quandt"),
      "birthDate" -> Seq("1926-06-21"),
      "sourceUrl" -> Seq("https://src.example/p1"))),
    ("p2", "Person", Map(
      "name" -> Seq("Stefan Quandt"),
      "wikidataId" -> Seq("Q77951"))),
    ("occ1", "Occupancy", Map(
      "holder" -> Seq("p1"),
      "post" -> Seq("pos1"),
      "startDate" -> Seq("1982"),
      "periodStart" -> Seq("1980"),
      "periodEnd" -> Seq("1997"))),
    ("occ2", "Occupancy", Map(
      "holder" -> Seq("p1"),
      "post" -> Seq("pos2"),
      "periodStart" -> Seq("1990"))),
    ("occ3", "Occupancy", Map(
      "holder" -> Seq("p2"),
      "post" -> Seq("pos1"))),
    ("pos1", "Position", Map(
      "name" -> Seq("supervisory board member"),
      "wikidataId" -> Seq("Q2824523"))),
    ("pos2", "Position", Map(
      "name" -> Seq("treasurer"))))
    .toDF("id", "schema", "properties")

  def stmts: DataFrame = EntityStore.statements(entities, "t")

  test("positionClaims walks holder -> post -> QID with date fallbacks") {
    val claims = Reconcile.positionClaims(stmts)
      .orderBy("entity_id").collect()
    // pos2 has no wikidataId -> occ2 drops; occ1 start prefers
    // startDate over periodStart, end falls back to periodEnd
    assert(claims.length === 2)
    assert(claims(0).getAs[String]("entity_id") === "p1")
    assert(claims(0).getAs[String]("pos_qid") === "Q2824523")
    assert(claims(0).getAs[String]("start") === "1982")
    assert(claims(0).getAs[String]("end") === "1997")
    assert(claims(1).getAs[String]("entity_id") === "p2")
    assert(claims(1).getAs[String]("start") === null)
  }

  test("linkedQids prefers resolver canonical, falls back to prop") {
    val canonicals = Seq(("p1", "Q463180"), ("px", "NK-7"))
      .toDF("member", "canonical")
    val linked = Reconcile.linkedQids(stmts, canonicals)
      .orderBy("entity_id").collect()
    // p1 via canonical QID; p2 via its wikidataId statement; the NK-
    // canonical is not a QID and contributes nothing
    assert(linked.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("p1", "Q463180"), ("p2", "Q77951")))
  }

  test("searchCandidates joins names against human dump items only") {
    val snaks = Seq(
      ("Q1", "main", "P31", "Q5", null),
      ("Q1", "label", null, null, "Johanna Quandt"),
      ("Q1", "alias", null, null, "Hanna Quandt"),
      ("Q2", "main", "P31", "Q4830453", null), // org, not human
      ("Q2", "label", null, null, "Stefan Quandt"),
      ("Q3", "main", "P31", "Q5", null),
      ("Q3", "alias", null, null, "Johanna Quandt"))
      .toDF("qid", "role", "prop", "vEntity", "vString")
    val cands = Reconcile.searchCandidates(stmts, snaks)
      .orderBy("entity_id", "qid").collect()
    // p1 hits Q1's label (1.0) and Q3's alias (0.8); p2's only
    // name-match Q2 is non-human and vanishes
    assert(cands.map(r => (r.getString(0), r.getString(1),
      r.getDouble(2))).toSeq ===
      Seq(("p1", "Q1", 1.0), ("p1", "Q3", 0.8)))
  }

  test("decide: enrich linked, merge best-above-threshold, create rest") {
    val persons = Seq("a", "b", "c", "d").toDF("entity_id")
    val candidates = Seq(
      ("b", "Q10", 0.95), ("b", "Q11", 0.97), // best Q11 merges
      ("c", "Q20", 0.99),                     // suppressed by decided
      ("d", "Q30", 0.5))                      // below threshold
      .toDF("entity_id", "qid", "score")
    val linked = Seq(("a", "Q1")).toDF("entity_id", "qid")
    val decided = Seq(("c", "Q20")).toDF("entity_id", "qid")
    val out = Reconcile.decide(persons, candidates, linked, decided)
      .orderBy("entity_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.toSeq === Seq(
      ("a", "enrich", "Q1"), ("b", "merge", "Q11"),
      ("c", "create", null), ("d", "create", "Q30")))
  }

  test("reconcile composition: edges for merges, commands split") {
    val snaks = Seq(
      ("Q1", "main", "P31", "Q5", null),
      ("Q1", "label", null, null, "Johanna Quandt"),
      ("Q77951", "main", "P31", "Q5", null),
      ("Q77951", "label", null, null, "Stefan Quandt"))
      .toDF("qid", "role", "prop", "vEntity", "vString")
    val canonicals = spark.emptyDataFrame
      .withColumn("member", lit(null).cast("string"))
      .withColumn("canonical", lit(null).cast("string"))
    val decided = canonicals
      .select(col("member").as("entity_id"), col("canonical").as("qid"))
    val candidates = Reconcile.searchCandidates(stmts, snaks)
    graft.Caches.holding { held =>
      val (decisions, merges, commands) = Reconcile.reconcile(held)(
        stmts, snaks, canonicals, decided, candidates,
        retrieved = Some("2024-06-01"))
      val d = decisions.orderBy("entity_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      // p2 is linked via its wikidataId prop; p1's label hit merges
      assert(d === Seq(("p1", "merge"), ("p2", "enrich")))
      assert(merges.collect().map(r => (r.getString(0), r.getString(1)))
        .toSeq === Seq(("p1", "Q1")))
      val lines = commands.select("line").as[String].collect()
      // the linked person enriches its item: birth-date-less Q77951 gets
      // nothing here (p2 has no dates), but its P39 claim must appear
      assert(lines.exists(_.startsWith("Q77951\tP39\tQ2824523")))
      // no CREATE block: every person is linked or merged
      assert(!lines.contains("CREATE"))
    }
  }

  test("rankCandidates scores persons against the dump mirror") {
    // a two-item dump in FtM statement form: the reference's
    // matcher-scored rank_candidates path (blocker join + algorithm),
    // as ReconcileMain --algorithm drives it
    val docs = Seq(
      """{"id":"Q99","modified":"2024-01-01T00:00:00Z","labels":{"en":{"language":"en","value":"Johanna Quandt"}},"claims":{"P31":[{"id":"c1","rank":"normal","mainsnak":{"snaktype":"value","property":"P31","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"Q5"}}}}]}}""",
      """{"id":"Q98","modified":"2024-01-01T00:00:00Z","labels":{"en":{"language":"en","value":"Ganz Anders"}},"claims":{"P31":[{"id":"c2","rank":"normal","mainsnak":{"snaktype":"value","property":"P31","datatype":"wikibase-item","datavalue":{"type":"wikibase-entityid","value":{"id":"Q5"}}}}]}}""")
    import spark.implicits._
    val mirror = Wikidata.toStatementTable(Wikidata.statements(
      Wikidata.parse(spark.createDataset(docs).toDF("doc"))))
    val ranked = Reconcile.rankCandidates(spark,
      stmts.filter(col("schema") === "Person"), mirror,
      algorithm = "regression-v1")
      .filter(col("entity_id") === "p1")
      .orderBy(col("score").desc).collect()
    assert(ranked.nonEmpty)
    // the name twin outranks the unrelated item (which the blocker
    // never even pairs)
    assert(ranked.head.getAs[String]("qid") === "Q99")
    assert(!ranked.map(_.getAs[String]("qid")).contains("Q98"))
  }

  test("reconcile creates the unmatched person") {
    val snaks = Seq(
      ("Q9", "main", "P31", "Q5", null),
      ("Q9", "label", null, null, "Nobody Here"))
      .toDF("qid", "role", "prop", "vEntity", "vString")
    val noPersonLink = stmts.filter(col("prop") =!= "wikidataId")
    val empty = Seq.empty[(String, String)].toDF("member", "canonical")
    val decided = empty
      .select(col("member").as("entity_id"), col("canonical").as("qid"))
    val candidates = Reconcile.searchCandidates(noPersonLink, snaks)
    graft.Caches.holding { held =>
      val (decisions, merges, commands) = Reconcile.reconcile(held)(
        noPersonLink, snaks, empty, decided, candidates)
      assert(decisions.filter(col("decision") === "create").count() === 2)
      assert(merges.count() === 0)
      val lines = commands.select("line").as[String].collect()
      assert(lines.count(_ === "CREATE") === 2)
      assert(lines.exists(_.contains("\tLmul\t\"Johanna Quandt\"")))
    }
  }
}
