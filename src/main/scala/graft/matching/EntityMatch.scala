package graft.matching

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Ftm

/** Spark wiring for entity-pair scoring: build one [[EntityView]] row
  * per entity (all comparator inputs precomputed — the columnar
  * replacement for the reference's per-batch memoization), join candidate
  * pairs to both views, and evaluate every registered algorithm in one
  * scalar UDF pass (`matching/types.py:177-206` lifted to a DataFrame).
  *
  * Scale notes: views are one narrow row per entity; the pair join
  * shuffles only (pair, view) rows, never statements. The UDF is the
  * irreducible per-pair comparator loop the reference also runs per
  * pair — here it executes distributed, after Catalyst has pruned the
  * views to the join.
  */
object EntityMatch {

  private def buildView(id: String, schema: String,
      props: Map[String, Seq[String]],
      refAddresses: Seq[String]): EntityView = {
    val defs = Ftm.propsOf(schema)
    def byType(t: String): Seq[String] = props.iterator.collect {
      case (p, vs) if defs.get(p).exists(d => d.tpe == t && d.matchable) => vs
    }.flatten.toSeq
    EntityView(
      id = id,
      schema = schema,
      names = byType(Ftm.T.Name),
      weakAliases = props.getOrElse("weakAlias", Nil) ++
        props.getOrElse("abbreviation", Nil),
      lastNames = props.getOrElse("lastName", Nil),
      birthDates = props.getOrElse("birthDate", Nil),
      genders = props.getOrElse("gender", Nil),
      countries = byType(Ftm.T.Country),
      identifiers = byType(Ftm.T.Identifier),
      addresses = byType(Ftm.T.Address) ++ refAddresses,
      addressEntityIds = props.getOrElse("addressEntity", Nil),
      firstNames = props.getOrElse("firstName", Nil),
      phones = byType(Ftm.T.Phone),
      emails = byType(Ftm.T.Email),
      birthPlaces = props.getOrElse("birthPlace", Nil),
      isins = props.getOrElse("isin", Nil),
      urls = byType(Ftm.T.Url))
  }

  private val viewUdf = udf(
    (id: String, schema: String, props: Map[String, Seq[String]],
        refAddr: Seq[String]) =>
      buildView(id, schema, Option(props).getOrElse(Map.empty),
        Option(refAddr).getOrElse(Nil)))

  /** Assembled entities (+ statements, for addressEntity dereference) →
    * one `view` struct per entity, carrying the entity's `schema` and
    * `datasets` alongside so a pair scorer can gate on them without
    * joining the entities again.
    */
  def views(assembled: DataFrame, stmts: DataFrame): DataFrame = {
    val addrVals = stmts
      .filter(col("schema") === "Address" && col("prop") === "full")
      .select(col("canonical_id").as("aid"), col("value").as("afull"))
    val refs = stmts.filter(col("prop") === "addressEntity")
      .select(col("canonical_id").as("eid"), col("value").as("aid"))
    val refFull = refs.join(addrVals, Seq("aid"))
      .groupBy(col("eid")).agg(collect_set(col("afull")).as("ref_addresses"))
    assembled.join(refFull, assembled("id") === refFull("eid"), "left_outer")
      .select(assembled("id"),
        viewUdf(assembled("id"), col("schema"), col("properties"),
          col("ref_addresses")).as("view"),
        col("schema"), col("datasets"))
  }

  private[matching] def rowToView(r: Row): EntityView = EntityView(
    r.getString(0), r.getString(1),
    r.getSeq[String](2), r.getSeq[String](3), r.getSeq[String](4),
    r.getSeq[String](5), r.getSeq[String](6), r.getSeq[String](7),
    r.getSeq[String](8), r.getSeq[String](9), r.getSeq[String](10),
    r.getSeq[String](11), r.getSeq[String](12), r.getSeq[String](13),
    r.getSeq[String](14))

  /** Driver-side view objects for the matcher micro-bench (the `nk
    * bench` path, `matching/bench.py:15-33`): up to `limit` views in
    * deterministic id order. Bounded collect by design — the bench
    * times the per-pair comparator on one core, like the reference.
    */
  def collectViews(views: DataFrame, limit: Int): Seq[EntityView] =
    views.orderBy(col("id")).limit(limit)
      .select(col("view.*")).collect().toSeq.map(rowToView)

  /** Candidate pairs (`lid`, `rid`, …) × views → one score column per
    * algorithm in [[Algorithms.registry]], plus each side's `schema`
    * and `datasets` from its view as `lschema`/`ldatasets` and
    * `rschema`/`rdatasets`.
    */
  def scorePairs(pairs: DataFrame, views: DataFrame,
      algoNames: Seq[String] = Algorithms.registry.keys.toSeq.sorted)
      : DataFrame = {
    val algos = algoNames.map(Algorithms.registry(_))
    val scoreUdf = udf((l: Row, r: Row) => {
      val q = rowToView(l)
      val c = rowToView(r)
      algos.map(_.score(q, c))
    })
    def side(p: String) = views.select(col("id").as(s"${p}id"),
      col("view").as(s"${p}view"), col("schema").as(s"${p}schema"),
      col("datasets").as(s"${p}datasets"))
    val (lv, rv) = (side("l"), side("r"))
    val scored = pairs.join(lv, Seq("lid")).join(rv, Seq("rid"))
      .withColumn("scores", scoreUdf(col("lview"), col("rview")))
    algoNames.zipWithIndex.foldLeft(scored) { case (df, (n, i)) =>
      df.withColumn(n.replace("-", "_"),
        round(element_at(col("scores"), i + 1), 6))
    }.drop("lview", "rview", "scores")
  }
}
