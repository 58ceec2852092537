package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions.lower
import graft.model.Ftm
import graft.text.Territories

/** Wikidata write-back proposals in QuickStatements V1 form — the batch
  * re-expression of the reference's reconcile write path
  * (`wikidata/propose.py:1-279`, `wikidata/write/values.py`,
  * `wikidata/write/commands.py`, `wikidata/write/serialize.py`): diff
  * FtM person entities against parsed wikidata items and emit exactly
  * the statements wikidata is missing — never a label overwrite, never
  * a competing single value.
  *
  * Everything is joins, windows and string expressions (whole-stage
  * codegen end to end): the item side aggregates once per QID into a
  * "known" row; the entity side aggregates per entity; each command
  * family is one narrow branch unioned into `(entity_id, qid, ord,
  * line)` where `ord` reproduces the reference's emission order and
  * `line` is the finished tab-separated QuickStatements command.
  */
object Propose {

  /** FtM gender → wikidata sex-or-gender item; only ever male/female
    * (`propose.py:28`).
    */
  val GenderQids: Map[String, String] =
    Map("male" -> "Q6581097", "female" -> "Q6581072")

  /** ISO2 → wikidata QID for present-day sovereign states (the
    * `rigour.territories` qid lookup of `propose.py:166-177`, public
    * ISO/wikidata correspondence). Historical territories are excluded
    * here AND via [[Territories.historicalCodes]] — auto-adding a
    * defunct state's citizenship is noise.
    */
  val CountryQids: Map[String, String] = Map(
    "af" -> "Q889", "ar" -> "Q414", "at" -> "Q40", "au" -> "Q408",
    "bd" -> "Q902", "be" -> "Q31", "br" -> "Q155", "ca" -> "Q16",
    "ch" -> "Q39", "cn" -> "Q148", "co" -> "Q739", "cz" -> "Q213",
    "de" -> "Q183", "dz" -> "Q262", "eg" -> "Q79", "es" -> "Q29",
    "et" -> "Q115", "fr" -> "Q142", "gb" -> "Q145", "gr" -> "Q41",
    "hu" -> "Q28", "id" -> "Q252", "ie" -> "Q27", "il" -> "Q801",
    "in" -> "Q668", "iq" -> "Q796", "ir" -> "Q794", "it" -> "Q38",
    "jo" -> "Q810", "jp" -> "Q17", "ke" -> "Q114", "kr" -> "Q884",
    "ma" -> "Q1028", "mx" -> "Q96", "my" -> "Q833", "mz" -> "Q1029",
    "ng" -> "Q1033", "nl" -> "Q55", "no" -> "Q20", "pe" -> "Q419",
    "ph" -> "Q928", "pk" -> "Q843", "pl" -> "Q36", "pt" -> "Q45",
    "ro" -> "Q218", "ru" -> "Q159", "sa" -> "Q851", "se" -> "Q34",
    "sg" -> "Q334", "th" -> "Q869", "tr" -> "Q43", "tw" -> "Q865",
    "ua" -> "Q212", "us" -> "Q30", "vn" -> "Q881", "za" -> "Q258")

  /** ISO 639-3 → wikidata label/alias language code; unmappable or
    * untagged falls back to `mul` (`propose.py:81-90` `_wd_lang`).
    */
  val Iso3To2: Map[String, String] =
    Wikidata.LangIso.map { case (two, three) => three -> two } - "mul"

  // ----------------------------------------------- QS value rendering

  /** Escape for a double-quoted QS value (`values.py:67-75`): squash
    * whitespace runs (tabs/newlines would break the line format), then
    * backslash-escape.
    */
  /** Name-comparison fold (`propose.py:74-77` uses Python `casefold`,
    * which maps ß→ss where `lower` does not — without it a known
    * "Strauß" label would not suppress a "STRAUSS" alias). The other
    * casefold-only mappings (ligatures) don't occur in name data.
    */
  private def nameFold(c: Column): Column =
    regexp_replace(lower(c), "ß", "ss")

  def qsEscape(c: Column): Column =
    regexp_replace(
      regexp_replace(trim(regexp_replace(c, "\\s+", " ")),
        "\\\\", "\\\\\\\\"),
      "\"", "\\\\\"")

  def qsQuote(c: Column): Column =
    concat(lit("\""), qsEscape(c), lit("\""))

  /** Date prefix → `+YYYY-MM-DDT00:00:00Z/precision` with the QS
    * precision integer derived from prefix length (`values.py:44-64`,
    * 9=year, 10=month, 11=day); null for unusable input.
    */
  def qsDate(c: Column): Column = {
    val y = substring(c, 1, 4)
    when(c.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}"),
      concat(lit("+"), substring(c, 1, 10), lit("T00:00:00Z/11")))
      .when(c.rlike("^[0-9]{4}-[0-9]{2}$"),
        concat(lit("+"), c, lit("-01T00:00:00Z/10")))
      .when(c.rlike("^[0-9]{4}$"),
        concat(lit("+"), y, lit("-01-01T00:00:00Z/9")))
  }

  // --------------------------------------------------- item-side diff

  /** What wikidata already holds, one row per QID
    * (`propose.py:47-78` `_known_from_item`) over the parsed snak
    * table ([[WikidataModel]] rows). A QID with only label/alias snaks
    * and no main-rank claims still emits a row (is_human=false, empty
    * sets) — intentional: the reference builds its known dict from the
    * ITEM's existence, not from claim presence, so a label-only item
    * diffs as "exists but holds nothing" rather than "absent".
    */
  def knownOf(snaks: DataFrame): DataFrame = {
    // ONE aggregate over the filtered snak rows — the label/alias name
    // set rides along as a conditional collect instead of a second
    // aggregate + join (collect_set skips the nulls the `when` leaves
    // on main rows), halving the stage count of the dump-side diff
    val isMain = col("role") === "main"
    snaks.filter(isMain || col("role").isin("label", "alias"))
      .groupBy(col("qid")).agg(
        max(isMain && col("prop") === "P31" && col("vEntity") === "Q5")
          .as("is_human"),
        max(isMain && col("prop") === "P569").as("has_birth_date"),
        max(isMain && col("prop") === "P21").as("has_gender"),
        sort_array(collect_set(when(isMain && col("prop") === "P27",
          col("vEntity")))).as("citizenship_qids"),
        sort_array(collect_set(when(isMain && col("prop") === "P39",
          col("vEntity")))).as("position_qids"),
        collect_set(when(!isMain && col("vString").isNotNull,
          nameFold(col("vString")))).as("name_texts"))
  }

  // ------------------------------------------------- entity-side prep

  private val nameMatchableLit = typedLit((for {
    sch <- Ftm.schemata.keys
    (pn, pr) <- Ftm.propsOf(sch)
    if pr.tpe == Ftm.T.Name
  } yield s"$sch:$pn" -> pr.matchable).toMap)

  /** Matchable name-type statements as `(entity_id, value, wd_lang,
    * rn)` with casefold dedupe (`propose.py:114-136`
    * `_name_statements`). The reference keeps the first statement in
    * iteration order; the batch total order is (primary-name-first,
    * prop, value) — deterministic under any row order.
    */
  def nameStatements(stmts: DataFrame): DataFrame = {
    // ONE shuffle for both windows: hash-partitioning on entity_id
    // alone satisfies the (entity_id, fold) clustering of the dedupe
    // window AND the order window (subset rule), so an explicit
    // repartition replaces two sequential Exchange stages with one —
    // the wd family bills per sequential stage, not per row
    val cand = stmts
      .filter(col("prop_type") === Ftm.T.Name &&
        coalesce(element_at(nameMatchableLit,
          concat(col("schema"), lit(":"), col("prop"))), lit(false)) &&
        trim(col("value")) =!= "")
      .withColumn("roleOrd", when(col("prop") === "name", 0).otherwise(1))
      .repartition(col("entity_id"))
    val dedupe = Window
      .partitionBy(col("entity_id"), nameFold(col("value")))
      .orderBy(col("roleOrd"), col("prop"), col("value"))
    val order = Window.partitionBy(col("entity_id"))
      .orderBy(col("roleOrd"), col("prop"), col("value"))
    cand.withColumn("dr", row_number().over(dedupe)).filter(col("dr") === 1)
      .withColumn("rn", row_number().over(order))
      .select(col("entity_id"), col("value"),
        coalesce(element_at(iso3To2Lit, col("lang")), lit("mul"))
          .as("wd_lang"),
        col("rn"))
  }

  /** Per-entity scaffold bundle in ONE aggregate over the batch
    * statements: the citation tail (`propose.py:93-112` `_references` —
    * `\tS854\t"url"` from the entity's first sourceUrl else the
    * fallback, plus `\tS813\t<date>` when a retrieved stamp is given,
    * empty when unsourced) AND the single-valued property bundles the
    * command branches diff against. The reference walks the entity once
    * per concern; fusing them here removes two shuffles + a join from
    * every propose batch (the wd-family queries are fixed-overhead
    * bound, not data bound).
    */
  def entityAgg(stmts: DataFrame, retrieved: Option[String],
      fallbackUrl: Option[String]): DataFrame = {
    val agg = stmts.groupBy(col("entity_id")).agg(
      min(when(col("prop") === "sourceUrl", col("value"))).as("src_url"),
      sort_array(collect_set(when(col("prop") === "birthDate",
        col("value")))).as("birth_dates"),
      sort_array(collect_set(when(col("prop") === "gender",
        col("value")))).as("genders"),
      sort_array(collect_set(when(col("prop") === "citizenship",
        col("value")))).as("citizenships"))
    val url = coalesce(col("src_url"),
      fallbackUrl.map(lit).getOrElse(lit(null).cast("string")))
    val retrievedTail = retrieved
      .map(d => coalesce(
        concat(lit("\tS813\t"), qsDate(lit(d))), lit("")))
      .getOrElse(lit(""))
    agg.withColumn("refs",
      when(url.isNotNull,
        concat(lit("\tS854\t"), qsQuote(url), retrievedTail))
        .otherwise(lit(""))).drop("src_url")
  }

  // --------------------------------------------------command branches

  private val iso3To2Lit = typedLit(Iso3To2)
  private val genderLit = typedLit(GenderQids)
  private val countryLit = typedLit(CountryQids)
  private val histLit = typedLit(Territories.historicalCodes.toSeq)
  private val emptyStr = typedLit(Seq.empty[String])

  /** Property statements shared by enrich and create
    * (`propose.py:141-183` `_property_statements`): P31 human gate,
    * single-valued P569/P21, pushy-but-present-day P27.
    * `known` must expose is_human/has_birth_date/has_gender/
    * citizenship_qids joined onto (entity_id, target, refs).
    */
  private def propertyCmds(withKnown: DataFrame): DataFrame = {
    // P31/P569/P21 are disjoint per-row conditionals over the SAME
    // scaffold rows — ONE explode leg instead of three union legs
    // (each leg is a separate stage group over the cached scaffold;
    // the wd family is fixed-overhead bound). A failed gate or an
    // unrenderable value yields a null element/line, filtered below
    // (matching the old per-branch d.isNotNull/g.isNotNull filters).
    val single = withKnown.select(col("entity_id"), col("qid"),
      explode(array(
        when(!col("is_human"), struct(lit(1000).as("ord"),
          concat(col("target"), lit("\tP31\tQ5"), col("refs"))
            .as("line"))),
        when(!col("has_birth_date") && size(col("birth_dates")) === 1,
          struct(lit(1001).as("ord"),
            concat(col("target"), lit("\tP569\t"),
              qsDate(element_at(col("birth_dates"), 1)), col("refs"))
              .as("line"))),
        when(!col("has_gender") && size(col("genders")) === 1,
          struct(lit(1002).as("ord"),
            concat(col("target"), lit("\tP21\t"),
              element_at(genderLit, element_at(col("genders"), 1)),
              col("refs")).as("line"))))).as("cmd"))
      .filter(col("cmd").isNotNull && col("cmd.line").isNotNull)
      .select(col("entity_id"), col("qid"), col("cmd.ord").as("ord"),
        col("cmd.line").as("line"))
    val p27 = withKnown
      .select(col("entity_id"), col("qid"), col("target"), col("refs"),
        col("citizenship_qids"),
        explode(col("citizenships")).as("code"))
      .withColumn("code", lower(col("code")))
      .filter(!array_contains(histLit, col("code")))
      .withColumn("cqid", element_at(countryLit, col("code")))
      .filter(col("cqid").isNotNull &&
        !array_contains(col("citizenship_qids"), col("cqid")))
      // one shuffle for both windows (entity_id satisfies both
      // clusterings — see nameStatements)
      .repartition(col("entity_id"))
      // in-batch dedupe by target QID value, first code wins
      .withColumn("dr", row_number().over(Window
        .partitionBy(col("entity_id"), col("cqid"))
        .orderBy(col("code")))).filter(col("dr") === 1)
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("entity_id")).orderBy(col("code"))))
      .select(col("entity_id"), col("qid"),
        (lit(1010) + col("rn")).as("ord"),
        concat(col("target"), lit("\tP27\t"), col("cqid"), col("refs"))
          .as("line"))
    single.unionByName(p27)
  }

  /** `propose_enrich` (`propose.py:186-214`) in batch form: for each
    * resolved (entity_id, qid) pair, missing names become append-only
    * aliases, P31/P569/P21/P27 are added only when absent, and
    * qid-resolved positions (`positions`: entity_id, pos_qid, start,
    * end — nullable dates) become P39 with date qualifiers only for
    * single-occupancy posts (`propose.py:185-216` conservatism).
    * Returns `(entity_id, qid, ord, line)`, which reads the scaffold
    * `held` pins: materialize it before releasing `held`.
    *
    * The scaffold is pinned EAGERLY: it fans out into several union
    * legs whose tasks all start at once — with a lazy persist each leg
    * recomputes the whole scaffold concurrently before any partition
    * is marked cached (measured 2.3 → 5.3 s: a thundering herd of
    * "already cached" duplicates).
    */
  def enrich(held: graft.Caches.Held)(pairs: DataFrame, stmts: DataFrame,
      snaks: DataFrame, positions: DataFrame,
      retrieved: Option[String] = None,
      fallbackUrl: Option[String] = None): DataFrame =
    enrichFrom(held.pin(
      scaffoldOf(pairs, stmts, snaks, retrieved, fallbackUrl)),
      stmts, positions)

  /** The per-(entity, qid) proposal scaffold [[enrich]] fans its legs
    * out from: the batch pairs joined with the dump's known-values
    * aggregate and the batch entities' fused statement bundles. A pure
    * function of (pairs, stmts, snaks), so for a standing batch it can
    * be a stored artifact (see ProposeQueries.scaffoldCk) instead of a
    * per-call pin.
    */
  def scaffoldOf(pairs: DataFrame, stmts: DataFrame, snaks: DataFrame,
      retrieved: Option[String] = None,
      fallbackUrl: Option[String] = None): DataFrame = {
    // the propose batch (pairs/stmts/positions) is bounded by review
    // throughput — thousands of rows by construction — while `snaks` is
    // the full dump. Bound the dump aggregate by the batch's qids FIRST
    // (left-equivalence: knownOf aggregates per qid independently, and
    // the left join only ever reads the batch's qids): at dump scale
    // this turns knownOf from a full-dump aggregate into a
    // batch-bounded one (locally the extra stage costs ~0.4 s at sf0.1
    // against the toy-sized fixture dump — the trade only pays once the
    // dump outweighs one broadcast of the batch qids, which is exactly
    // the production shape). Broadcasting the batch frames beyond this
    // was MEASURED SLOWER (3.1 → 4.1 s at sf0.1): each broadcast
    // materializes its subtree through the driver, and the withRefs
    // chain feeds three branches — shuffle joins let AQE reuse the
    // exchanges instead.
    // no distinct before the broadcast: left_semi ignores duplicate
    // build keys, and the distinct billed a whole extra shuffle stage
    // (the wd family is fixed-overhead bound — every stage is a
    // sequential scheduler round-trip)
    val batchQids = pairs.select(col("qid"))
    val known = knownOf(
      snaks.join(broadcast(batchQids), Seq("qid"), "left_semi"))
    val p = pairs.select(col("entity_id"), col("qid"))
      .join(known, Seq("qid"), "left_outer")
      .withColumn("is_human", coalesce(col("is_human"), lit(false)))
      .withColumn("has_birth_date",
        coalesce(col("has_birth_date"), lit(false)))
      .withColumn("has_gender", coalesce(col("has_gender"), lit(false)))
      .withColumn("citizenship_qids",
        coalesce(col("citizenship_qids"), emptyStr))
      .withColumn("position_qids",
        coalesce(col("position_qids"), emptyStr))
      .withColumn("name_texts", coalesce(col("name_texts"), emptyStr))
      .withColumn("target", col("qid"))

    // ONE per-entity aggregate (refs tail + value bundles fused) joined
    // onto the pair scaffold — the scaffold feeds FIVE branches
    // (aliases, P31/P569/P21/P27, positions), so [[enrich]] persists it
    // before the fan-out and ProposeQueries stores it in the lake.
    p.join(entityAgg(stmts, retrieved, fallbackUrl),
        Seq("entity_id"), "left_outer")
      .withColumn("refs", coalesce(col("refs"), lit("")))
      .withColumn("birth_dates", coalesce(col("birth_dates"), emptyStr))
      .withColumn("genders", coalesce(col("genders"), emptyStr))
      .withColumn("citizenships",
        coalesce(col("citizenships"), emptyStr))
  }

  /** The proposal legs over an already-materialized scaffold (a
    * persisted frame or a lake-artifact scan).
    */
  def enrichFrom(withRefs: DataFrame, stmts: DataFrame,
      positions: DataFrame): DataFrame = {
    // missing names → append-only aliases (`propose.py:207-210`).
    // The scaffold side broadcasts from its cache (batch-bounded), so
    // this leg's only Exchange is nameStatements' single repartition.
    // One declared broadcast projection serves both the alias and the
    // position legs. Catalyst still specializes each build side
    // (column pruning + the join-derived IsNotNull filters differ per
    // leg, so the exchanges don't unify into a ReusedExchange — the
    // r13 after-plan shows two narrow scans), which is the better
    // outcome anyway: each leg's scaffold scan reads exactly its own
    // column subset of the batch-bounded artifact.
    val scaffoldB = broadcast(withRefs.select(col("entity_id"),
      col("qid"), col("target"), col("name_texts"), col("refs"),
      col("position_qids")))
    val aliases = nameStatements(stmts)
      .join(scaffoldB, Seq("entity_id"))
      .filter(!array_contains(col("name_texts"), nameFold(col("value"))))
      .select(col("entity_id"), col("qid"),
        (lit(10) + col("rn")).as("ord"),
        concat(col("target"), lit("\tA"), col("wd_lang"), lit("\t"),
          qsQuote(col("value"))).as("line"))

    val props = propertyCmds(withRefs)

    // P39 for posts the item lacks (`propose.py:185-216`): one
    // occupancy → P580/P582 qualifiers; several → bare statement
    val pos = positions
      .join(scaffoldB, Seq("entity_id"))
      .filter(!array_contains(col("position_qids"), col("pos_qid")))
      // one shuffle for the aggregate AND the window: entity_id alone
      // satisfies both clusterings (subset rule)
      .repartition(col("entity_id"))
      .groupBy(col("entity_id"), col("qid"), col("target"),
        col("refs"), col("pos_qid"))
      .agg(count(lit(1)).as("n"),
        min(col("start")).as("start"), min(col("end")).as("end"))
      .withColumn("quals",
        when(col("n") === 1, concat(
          coalesce(concat(lit("\tP580\t"), qsDate(col("start"))),
            lit("")),
          coalesce(concat(lit("\tP582\t"), qsDate(col("end"))),
            lit("")))).otherwise(lit("")))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("entity_id")).orderBy(col("pos_qid"))))
      .select(col("entity_id"), col("qid"),
        (lit(2000) + col("rn")).as("ord"),
        concat(col("target"), lit("\tP39\t"), col("pos_qid"),
          col("quals"), col("refs")).as("line"))

    aliases.unionByName(props).unionByName(pos)
  }

  /** `propose_create` (`propose.py:217-246`) in batch form: a CREATE
    * block per entity — label from the first name in batch order (the
    * caption in the reference; identical whenever the caption is the
    * primary name), remaining names as aliases, then the full property
    * set against an empty known row, all targeting `LAST`.
    */
  def create(stmts: DataFrame, retrieved: Option[String] = None,
      fallbackUrl: Option[String] = None): DataFrame = {
    val names = nameStatements(stmts)
    // one row per entity with refs + value bundles fused (every entity
    // has ≥1 statement, so this IS the distinct entity set)
    val withVals = entityAgg(stmts, retrieved, fallbackUrl)
      .withColumn("qid", lit(null).cast("string"))
      .withColumn("target", lit("LAST"))
      .withColumn("is_human", lit(false))
      .withColumn("has_birth_date", lit(false))
      .withColumn("has_gender", lit(false))
      .withColumn("citizenship_qids", emptyStr)

    val createLine = withVals.select(col("entity_id"),
      lit(null).cast("string").as("qid"), lit(0).as("ord"),
      lit("CREATE").as("line"))
    val nameLines = names.select(col("entity_id"),
      lit(null).cast("string").as("qid"), (lit(10) + col("rn")).as("ord"),
      concat(lit("LAST\t"),
        when(col("rn") === 1, concat(lit("L"), col("wd_lang")))
          .otherwise(concat(lit("A"), col("wd_lang"))),
        lit("\t"), qsQuote(col("value"))).as("line"))

    createLine.unionByName(nameLines)
      .unionByName(propertyCmds(withVals))
  }
}
