package graft.resolver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Ftm
import graft.text.{Levenshtein, TextNorm}

/** The reference's interactive dedupe review (`tui/dedupe.py:24-112`,
  * `tui/comparison.py:47-84`, `tui/util.py:25-60`) re-expressed as batch
  * operators that serve the review from files — SURVEY §7.4 risk 5's
  * design: the queue and the side-by-side comparison are DataFrames a
  * reviewer (or a thin UI) reads, and decisions come back as a file
  * applied by [[ResolverOps.decide]].
  *
  * Scale design: the queue derives from the suggestion band of the edge
  * log — bounded by the xref candidate cap, so every join against it
  * broadcasts; the entity-statement side never shuffles. The comparison
  * operator only ever runs over the (small) queue output, so its
  * per-pair aggregations are cheap by construction.
  */
object Review {

  /** Candidate queue — `resolver.get_candidates` (`resolver/resolver.py:
    * 306-327`) + the TUI's load-loop filters (`tui/dedupe.py:45-67`):
    * live scored NO_JUDGEMENT edges; both endpoints canonicalized; pairs
    * with an existing transitive judgement dropped (same cluster ⇒
    * positive, a live negative edge between the clusters ⇒ negative —
    * `check_candidate`, `resolver/resolver.py:284-288`); both schemata
    * must be matchable-compatible. The TUI's session ignore-set (first
    * hit of a canonical pair wins while iterating score-descending)
    * becomes a max-score groupBy on the canonical unordered pair.
    *
    * @param edges    resolver edge log (ResolverOps schema)
    * @param canonicalMap (member, canonical) from the positive subgraph
    * @param schemas  (id, schema) per entity
    * @param compat   matchable-compatibility pairs, normalized ls <= rs
    */
  def queue(edges: DataFrame, canonicalMap: DataFrame, schemas: DataFrame,
      compat: Seq[(String, String)]): DataFrame = {
    val lm = broadcast(canonicalMap
      .select(col("member").as("target"), col("canonical").as("tcan")))
    val rm = broadcast(canonicalMap
      .select(col("member").as("source"), col("canonical").as("scan")))
    def canonicalized(df: DataFrame): DataFrame = df
      .join(lm, Seq("target"), "left_outer")
      .join(rm, Seq("source"), "left_outer")
      .select(coalesce(col("tcan"), col("target")).as("a"),
        coalesce(col("scan"), col("source")).as("b"), col("score"))

    val sugg = canonicalized(ResolverOps.live(edges)
      .filter(col("judgement") === ResolverOps.NoJudgement &&
        col("score").isNotNull))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("left_id"),
        greatest(col("a"), col("b")).as("right_id"), col("score"))
    val negs = canonicalized(ResolverOps.live(edges)
      .filter(col("judgement") === ResolverOps.Negative))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("na"),
        greatest(col("a"), col("b")).as("nb"))
      .distinct()

    val undecided = sugg
      .join(broadcast(negs),
        col("left_id") === col("na") && col("right_id") === col("nb"),
        "left_anti")
      .groupBy(col("left_id"), col("right_id"))
      .agg(max(col("score")).as("score"))

    // schema gate: the queue side is bounded (suggestion band), so it is
    // the broadcast build side against the full entity-schema table
    val ls = schemas.select(col("id").as("left_id"),
      col("schema").as("left_schema"))
    val rs = schemas.select(col("id").as("right_id"),
      col("schema").as("right_schema"))
    val compatKeys = typedLit(compat.map { case (a, b) => s"$a|$b" })
    val withL = ls.join(broadcast(undecided), Seq("left_id"))
    rs.join(broadcast(withL), Seq("right_id"))
      .filter(array_contains(compatKeys,
        concat(least(col("left_schema"), col("right_schema")), lit("|"),
          greatest(col("left_schema"), col("right_schema")))))
      .select(col("left_id"), col("right_id"), col("score"),
        col("left_schema"), col("right_schema"))
  }

  /** Per-type value comparison — the `prop.type.compare_sets` call of
    * `tui/comparison.py:30` with the public FtM registry semantics:
    * names and addresses compare fuzzily (normalized Levenshtein),
    * dates by mutual prefix (FtM dates are prefix-truncatable), all
    * other types by equality.
    */
  private[resolver] def typeCompare(tpe: String, a: String,
      b: String): Double = tpe match {
    case Ftm.T.Name | Ftm.T.Address =>
      val fa = TextNorm.fingerprintName(a).getOrElse(a.toLowerCase.trim)
      val fb = TextNorm.fingerprintName(b).getOrElse(b.toLowerCase.trim)
      if (fa.isEmpty || fb.isEmpty) 0.0
      else if (fa == fb) 1.0
      else Levenshtein.similarity(fa, fb, maxEdits = 4)
    case Ftm.T.Date =>
      val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
      if (s.nonEmpty && l.startsWith(s)) 1.0 else 0.0
    case _ => if (a == b) 1.0 else 0.0
  }

  private val bestSim = udf((tpe: String, own: Seq[String],
      other: Seq[String]) =>
    if (own == null || other == null || own.isEmpty || other.isEmpty) 0.0
    else own.iterator.map(a =>
      other.iterator.map(b => typeCompare(tpe, a, b)).max).max)

  /** `render_comparison` as data (`tui/comparison.py:47-84`): one row
    * per (pair, prop) with both sides' sorted values, the best
    * same-type similarity per side, and the display weight. Property
    * selection and order follow `comparison_props` (`tui/util.py:
    * 40-60`): union of both entities' props; weight = TYPE_ORDER of the
    * prop type minus 10 per side whose schema features the prop;
    * non-matchable instances of matchable types hidden except
    * wikipediaUrl (ALWAYS_SHOW); a trailing `datasets` row mirrors the
    * TUI's Sources row. Entity-type values stay raw ids (the reference
    * substitutes captions when the view resolves them; a caption join
    * is the caller's choice).
    *
    * @param pairs      (left_id, right_id) — typically [[queue]] output
    * @param statements EntityStore statement rows keyed by canonical_id
    */
  def comparison(pairs: DataFrame, statements: DataFrame): DataFrame = {
    val p = broadcast(pairs.select(col("left_id"), col("right_id")))
    val st = statements.select(col("canonical_id").as("eid"),
      col("schema"), col("prop"), col("prop_type"), col("value"),
      col("dataset"))
      .filter(col("prop") =!= "id")

    def side(key: String, tag: String): DataFrame = st
      .join(p, col("eid") === col(key))
      .select(col("left_id"), col("right_id"), lit(tag).as("side"),
        col("schema"), col("prop"), col("prop_type"), col("value"),
        col("dataset"))

    val rows = side("left_id", "L").unionByName(side("right_id", "R"))

    val emptyArr = typedLit(Seq.empty[String])

    // dataset row: the TUI's Sources footer (weight 100 → always last)
    val dsRow = rows.groupBy(col("left_id"), col("right_id"), col("side"))
      .agg(sort_array(collect_set(col("dataset"))).as("values"))
      .withColumn("prop", lit("datasets"))
      .withColumn("prop_type", lit("string"))
      .withColumn("sim", lit(0.0))

    // per-side per-type value pools for the cross-side compare
    // (`other.get_type_values(prop.type)` — values of ALL props sharing
    // the type, tui/comparison.py:22)
    val typePools = rows
      .groupBy(col("left_id"), col("right_id"), col("side"),
        col("prop_type"))
      .agg(collect_set(col("value")).as("pool"))
      .withColumn("other", when(col("side") === "L", "R").otherwise("L"))
      .select(col("left_id"), col("right_id"),
        col("other").as("side"), col("prop_type"), col("pool"))

    val matchableLit = typedLit((for {
      sch <- Ftm.schemata.keys
      (pn, pr) <- Ftm.propsOf(sch)
    } yield s"$sch:$pn" -> pr.matchable).toMap)

    val propVals = rows
      .groupBy(col("left_id"), col("right_id"), col("side"), col("prop"),
        col("prop_type"))
      .agg(sort_array(collect_set(col("value"))).as("values"),
        first(col("schema")).as("schema"))
      .join(typePools,
        Seq("left_id", "right_id", "side", "prop_type"), "left_outer")
      .withColumn("sim", bestSim(col("prop_type"), col("values"),
        coalesce(col("pool"), emptyArr)))
      // visibility: hide matchable-type props the schema marks
      // non-matchable (noise like weakAlias/sourceUrl/website), keep
      // wikipediaUrl (tui/util.py:22,56-58)
      .filter(col("prop") === "wikipediaUrl" ||
        !(array_contains(typedLit(Ftm.matchableTypes.toSeq),
          col("prop_type")) &&
          !coalesce(element_at(matchableLit,
            concat(col("schema"), lit(":"), col("prop"))), lit(true))))
      .select(col("left_id"), col("right_id"), col("side"), col("prop"),
        col("prop_type"), col("values"), col("sim"), col("schema"))

    val all = propVals.unionByName(dsRow
      .withColumn("schema", lit(null).cast("string"))
      .select(col("left_id"), col("right_id"), col("side"), col("prop"),
        col("prop_type"), col("values"), col("sim"), col("schema")))

    // schemas of the two sides, for the featured-prop boost
    val pairSchemas = rows
      .groupBy(col("left_id"), col("right_id"))
      .agg(max(when(col("side") === "L", col("schema"))).as("lsch"),
        max(when(col("side") === "R", col("schema"))).as("rsch"))

    val featuredLit = typedLit(Ftm.featured)
    val typeOrderLit = typedLit(Ftm.typeOrder)
    def boost(sch: Column): Column =
      when(array_contains(coalesce(element_at(featuredLit, sch),
        emptyArr), col("prop")), 10).otherwise(0)

    // pivot L/R into one row per (pair, prop); weight = TYPE_ORDER of
    // the type − 10 per schema featuring the prop (tui/util.py:42-49);
    // the Sources row stays pinned last
    all.groupBy(col("left_id"), col("right_id"), col("prop"))
      .agg(
        first(col("prop_type")).as("prop_type"),
        max(when(col("side") === "L", col("values"))).as("left_values"),
        max(when(col("side") === "R", col("values"))).as("right_values"),
        max(when(col("side") === "L", col("sim"))).as("left_sim"),
        max(when(col("side") === "R", col("sim"))).as("right_sim"))
      .join(broadcast(pairSchemas), Seq("left_id", "right_id"),
        "left_outer")
      .withColumn("weight",
        when(col("prop") === "datasets", 100).otherwise(
          coalesce(element_at(typeOrderLit, col("prop_type")), lit(0)) -
            boost(col("lsch")) - boost(col("rsch"))))
      .select(col("left_id"), col("right_id"), col("prop"),
        col("prop_type"), col("weight"), col("left_values"),
        col("right_values"), col("left_sim"), col("right_sim"))
      .orderBy(col("left_id"), col("right_id"), col("weight"),
        col("prop"))
  }
}
