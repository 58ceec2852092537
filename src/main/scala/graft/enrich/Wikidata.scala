package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions.lower
import graft.model.Ftm

/** Wikidata claim → FtM statement transform (reference
  * `wikidata/model.py:19-238`, `wikidata/value.py:27-92`,
  * `wikidata/qualified.py:8-30`, `enrich/wikidata.py:198-308`).
  *
  * The reference walks one item at a time, resolving every referenced
  * QID with a client fetch (`client.get_label`). This engine flattens
  * the dump into snak rows ([[WikidataModel.parseItem]]) and makes the
  * whole transform relational:
  *
  *  - label resolution = a join of entity-valued snaks against the
  *    dump's own label table (shuffle on QID — the 100 TB shape; the
  *    per-claim point lookup becomes one equi-join);
  *  - qualifier date aggregation = groupBy(claimId);
  *  - name/alias dedup = one window per (item, casefolded name);
  *  - property mapping = broadcast map literals (`wikidata/props.py`).
  *
  * Value-conversion semantics from dependencies the reference pulls in
  * (followthemoney / rigour) are re-expressed as documented constants:
  * `Historic`/`RelevanceMin` are FtM's date sentinels, `postSummary`
  * mirrors `followthemoney.helpers.post_summary` ("label (start-end)"),
  * `cleanName` mirrors rigour's bracketed-text/emoji cleanup.
  */
object Wikidata {

  /** FtM date sentinels (`wikidata/value.py:44-69` uses
    * `registry.date.HISTORIC` / `RELEVANCE_MIN`).
    */
  val Historic = "1001-01-01"
  val RelevanceMin = "1900"

  /** Wiki language code → ISO 639-3, the subset the engine recognizes
    * (`wikidata/lang.py:42` clean via the FtM language registry;
    * unsupported languages null the value).
    */
  val LangIso: Map[String, String] = Map(
    "en" -> "eng", "mul" -> "mul", "de" -> "deu", "fr" -> "fra",
    "es" -> "spa", "ru" -> "rus", "it" -> "ita", "pt" -> "por",
    "nl" -> "nld", "pl" -> "pol", "sv" -> "swe", "da" -> "dan",
    "fi" -> "fin", "no" -> "nor", "cs" -> "ces", "tr" -> "tur",
    "ar" -> "ara", "fa" -> "fas", "he" -> "heb", "hi" -> "hin",
    "ja" -> "jpn", "ko" -> "kor", "zh" -> "zho", "uk" -> "ukr",
    "vi" -> "vie", "id" -> "ind", "ro" -> "ron", "el" -> "ell",
    "hu" -> "hun", "bg" -> "bul", "sr" -> "srp", "ka" -> "kat")

  /** Display-language preference for picking one label/description —
    * English first, then the multilingual tag
    * (`wikidata/lang.py:10-13` PREFERRED_WD_LANGS).
    */
  val PreferredLangs: Seq[String] =
    Seq("eng", "mul", "spa", "fra", "deu", "rus", "ara")

  /** Wikidata property → FtM property (`wikidata/props.py:25-55`). */
  val PropsDirect: Map[String, String] = Map(
    "P1477" -> "alias", "P1813" -> "alias", "P2561" -> "alias",
    "P1559" -> "alias", "P2562" -> "alias",
    "P511" -> "title", "P735" -> "firstName", "P734" -> "lastName",
    "P1950" -> "lastName", "P21" -> "gender", "P39" -> "position",
    "P140" -> "religion", "P106" -> "topics", "P569" -> "birthDate",
    "P5056" -> "fatherName", "P570" -> "deathDate", "P19" -> "birthPlace",
    "P856" -> "website", "P512" -> "education", "P69" -> "education",
    "P102" -> "political", "P27" -> "citizenship", "P742" -> "weakAlias",
    "P172" -> "ethnicity", "P973" -> "sourceUrl", "P1278" -> "leiCode",
    "P17" -> "country", "P571" -> "incorporationDate",
    "P1454" -> "legalForm")

  /** FtM props whose value gets a qualifier date-range suffix
    * (`wikidata/props.py:57-60`).
    */
  val PropsQualified: Set[String] = Set("position", "education")

  /** Occupation/position QIDs → FtM topics (`wikidata/props.py:62-70`). */
  val PropsTopics: Map[String, String] = Map(
    "Q82955" -> "role.pol", "Q193391" -> "role.diplo",
    "Q14886050" -> "crime.terror", "Q16533" -> "role.judge",
    "Q189290" -> "mil", "Q47064" -> "mil")

  /** Family/associate relationship properties
    * (`wikidata/props.py:2-22`), used by [[relationships]].
    */
  val PropsFamily: Map[String, String] = Map(
    "P7" -> "sibling", "P9" -> "sibling", "P22" -> "parent",
    "P26" -> "spouse", "P25" -> "parent", "P40" -> "child",
    "P43" -> "stepparent", "P44" -> "stepparent",
    "P451" -> "unmarried partner", "P1038" -> "relative",
    "P1290" -> "godparent", "P3373" -> "sibling",
    "P3448" -> "stepparent", "P8810" -> "unspecified parent")

  val PropsAssociation: Map[String, String] = Map(
    "P1327" -> "partner in business or sport",
    "P3342" -> "significant person")

  /** Country QID → FtM country code — the engine's stand-in for the
    * reference's `get_territory_by_qid` knowledge base
    * (`enrich/wikidata.py:247-250`). Public ISO/Wikidata knowledge;
    * covers the 25 TPC-H nations plus common extras.
    */
  val QidCountries: Map[String, String] = Map(
    "Q262" -> "dz", "Q414" -> "ar", "Q155" -> "br", "Q16" -> "ca",
    "Q79" -> "eg", "Q115" -> "et", "Q142" -> "fr", "Q183" -> "de",
    "Q668" -> "in", "Q252" -> "id", "Q794" -> "ir", "Q796" -> "iq",
    "Q17" -> "jp", "Q810" -> "jo", "Q114" -> "ke", "Q1028" -> "ma",
    "Q1029" -> "mz", "Q419" -> "pe", "Q148" -> "cn", "Q218" -> "ro",
    "Q159" -> "ru", "Q851" -> "sa", "Q145" -> "gb", "Q30" -> "us",
    "Q881" -> "vn", "Q29" -> "es", "Q38" -> "it", "Q55" -> "nl",
    "Q36" -> "pl", "Q34" -> "se", "Q212" -> "ua", "Q43" -> "tr",
    "Q408" -> "au", "Q96" -> "mx", "Q232" -> "kz")

  // ------------------------------------------------------------ helpers

  /** rigour-style name gate: at least one letter
    * (`wikidata/value.py:95-102` is_name).
    */
  private[enrich] def isName(s: String): Boolean = s.exists(_.isLetter)

  /** `clean_wikidata_name` (`wikidata/value.py:95-102`): drop bracketed
    * segments, fall back to the raw name if the cleanup empties it,
    * strip emoji/astral junk.
    */
  private[enrich] def cleanName(name: String): Option[String] = {
    if (!isName(name)) return None
    val nb = name.replaceAll("\\([^()]*\\)|\\[[^\\[\\]]*\\]", " ")
      .replaceAll("\\s+", " ").trim
    val base = if (isName(nb)) nb else name
    val cleaned = base.filter(c => c < 0x1F000).trim
    if (cleaned.isEmpty) None else Some(cleaned)
  }

  private val cleanNameUdf = udf((s: String) => cleanName(s))

  private def langIso(c: Column): Column =
    element_at(typedLit(LangIso), lower(c))

  private def langIdx(iso3: Column): Column =
    coalesce(element_at(
      typedLit(PreferredLangs.zipWithIndex.toMap), iso3), lit(99))

  /** Statement lang: `mul` means language-independent and is emitted as
    * null (`wikidata/lang.py:59`).
    */
  private def emitLang(iso3: Column): Column =
    when(iso3 === "mul", lit(null)).otherwise(iso3)

  /** Wikidata time snak → FtM prefix-date string
    * (`wikidata/value.py:32-70`): BCE and old-imprecise dates collapse
    * to the HISTORIC sentinel, recent-imprecise dates convert to
    * nothing, others truncate to their stated precision (9=year,
    * 10=month, 11=day) with the bot-artifact `-01-01` trimmed to year.
    */
  private[enrich] def timeText(time: Column, prec: Column): Column = {
    val stripped = regexp_replace(time, "^[+-]", "")
    val len = when(prec === 9, lit(4)).when(prec === 10, lit(7))
      .otherwise(lit(10))
    val trunc = stripped.substr(lit(1), len)
    val trimmed = when(trunc.endsWith("-01-01"), substring(trunc, 1, 4))
      .otherwise(trunc)
    when(time.isNull, lit(null))
      .when(substring(time, 1, 1) === "-", lit(Historic))
      .when(prec < 9 && stripped > lit(RelevanceMin), lit(null))
      .when(prec < 9, lit(Historic))
      .otherwise(greatest(lit(Historic), trimmed))
  }

  /** Resolve snak rows (any role) to `(text, tlang, torig)` columns —
    * `snak_value_to_string` (`wikidata/value.py:27-92`) as one column
    * expression plus the label join for entity/unit references. The
    * labels frame is `(l_qid, l_text, l_lang)` from [[pickedLabels]].
    */
  def snakText(snaks: DataFrame, labels: DataFrame): DataFrame = {
    val unitTail = element_at(split(col("vUnit"), "/"), -1)
    val withUnit = snaks.withColumn("unitQid",
      when(unitTail.rlike("^Q[0-9]+$"), unitTail))
    val l = labels.select(col("l_qid"), col("l_text"), col("l_lang"))
    val u = labels.select(col("l_qid").as("u_qid"),
      col("l_text").as("u_text"))
    val joined = withUnit
      .join(l, withUnit("vEntity") === l("l_qid"), "left_outer")
      .join(u, withUnit("unitQid") === u("u_qid"), "left_outer")
    val amount = regexp_replace(col("vAmount"), "^\\+", "")
    val monoLang = langIso(col("vMonoLang"))
    val text = when(col("snaktype") =!= "value", lit(null))
      .when(col("valueType") === "time",
        timeText(col("vTime"), col("vPrecision")))
      .when(col("valueType") === "wikibase-entityid", col("l_text"))
      .when(col("valueType") === "monolingualtext",
        when(monoLang.isNotNull, col("vMonoText")))
      .when(col("valueType") === "quantity",
        when(col("unitQid").isNotNull && col("u_text").isNotNull,
          concat(amount, lit(" "), col("u_text"))).otherwise(amount))
      .otherwise(col("vString"))
    val tlang = when(col("valueType") === "wikibase-entityid",
        col("l_lang"))
      .when(col("valueType") === "monolingualtext", monoLang)
    val torig = when(col("valueType") === "time", col("vTime"))
      .when(col("valueType") === "wikibase-entityid", col("vEntity"))
      .when(col("valueType") === "quantity", col("vAmount"))
    joined
      .withColumn("text", text)
      .withColumn("tlang", tlang)
      .withColumn("torig", coalesce(torig, text))
      .drop("l_qid", "l_text", "l_lang", "u_qid", "u_text", "unitQid")
  }

  /** One display label per item: `(l_qid, l_text, l_lang)` by language
    * preference then text (`LangText.pick`/`sorted`,
    * `wikidata/lang.py:72-91`).
    */
  def pickedLabels(rows: DataFrame): DataFrame = {
    val lbl = rows.filter(col("role") === "label")
      .withColumn("lang3", langIso(col("lang")))
      .filter(col("lang3").isNotNull && trim(col("vString")) =!= "")
    val w = Window.partitionBy(col("qid"))
      .orderBy(langIdx(col("lang3")), col("vString"))
    lbl.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("qid").as("l_qid"), col("vString").as("l_text"),
        col("lang3").as("l_lang"))
  }

  /** `post_summary` stand-in (`wikidata/qualified.py:8-30` via
    * followthemoney.helpers): suffix the value with its validity range
    * — `(start-end)` when either bound is known, else the point-date
    * set `(d)` / `(d1-d2)`.
    */
  private def postSummary(value: Column, starts: Column, ends: Column,
      dates: Column): Column = {
    val start = when(size(starts) > 0, element_at(starts, 1))
    val end = when(size(ends) > 0, element_at(ends, 1))
    val dMin = element_at(dates, 1)
    val dMax = element_at(dates, size(dates))
    when(size(starts) > 0 || size(ends) > 0,
      concat(value, lit(" ("), coalesce(start, lit("")), lit("-"),
        coalesce(end, lit("")), lit(")")))
      .when(size(dates) > 0,
        when(dMin === dMax, concat(value, lit(" ("), dMin, lit(")")))
          .otherwise(concat(value, lit(" ("), dMin, lit("-"), dMax,
            lit(")"))))
      .otherwise(value)
  }

  // ------------------------------------------------------- the transform

  /** Parse a one-string-column DataFrame of dump documents into snak
    * rows. Map-only; malformed documents drop (PERMISSIVE).
    */
  def parse(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(docs.columns.head).as("doc")).as[String]
      .flatMap(WikidataModel.parseItem _).toDF()
  }

  /** Snak rows → FtM statements `(entity_id, schema, prop, prop_type,
    * value, lang, original_value, origin)` — `item_proxy`
    * (`enrich/wikidata.py:198-308`) for every item of the dump at once.
    *
    * `schema` is the FtM schema to project items into; for Person the
    * reference's `instance of` gate applies (items lacking P31=Q5 are
    * dropped, `enrich/wikidata.py:228-230`).
    */
  def statements(rows0: DataFrame, schema: String = "Person",
      requireInstance: Option[String] = Some("Q5")): DataFrame = {
    // Items without a modified stamp are skipped (`enrich/wikidata.py:201`).
    val rows = rows0.filter(col("modified").isNotNull)
    // The picked-label table is joined twice (entity + unit
    // resolution) — materialize it lazily so the pick window runs
    // once, not per join site.
    val labels = pickedLabels(rows).localCheckpoint(false)
    val schemaProps = Ftm.propsOf(schema)
    val propTypeLit = typedLit(schemaProps.map { case (n, p) => n -> p.tpe })

    // ---- names: labels + aliases in preference order, casefold dedupe
    // (`enrich/wikidata.py:205-227`).
    val nm = rows.filter(col("role").isin("label", "alias"))
      .withColumn("lang3", langIso(col("lang")))
      .filter(col("lang3").isNotNull && trim(col("vString")) =!= "")
      .withColumn("roleOrd",
        when(col("role") === "label", 0).otherwise(1))
    val wName = Window.partitionBy(col("qid"), lower(col("vString")))
      .orderBy(col("roleOrd"), langIdx(col("lang3")), col("vString"))
    // nmKept feeds three consumers (name/alias statements + the sanity
    // aggregate) — materialize lazily so the dedup window runs once.
    val nmKept = nm.withColumn("rn", row_number().over(wName))
      .filter(col("rn") === 1)
      .withColumn("strong",
        col("vString").contains(" ") && length(col("vString")) >= 3)
      .withColumn("cleaned", cleanNameUdf(col("vString")))
      .filter(col("cleaned").isNotNull)
      .localCheckpoint(false)

    // labels → name, aliases → alias/weakAlias, in one branch.
    val nameStmts = nmKept
      .select(col("qid"),
        when(col("role") === "label", "name")
          .when(col("strong"), "alias").otherwise("weakAlias").as("prop"),
        col("cleaned").as("value"), emitLang(col("lang3")).as("lang"),
        col("vString").as("original_value"),
        lit(null).cast("string").as("origin"))

    // The claim sanity checks see casefolded raw labels + strong aliases
    // (`names`/`names_concat`, `enrich/wikidata.py:205-232`), joined in
    // deterministic sorted order (the reference joins a set).
    val namesAgg = nmKept
      .filter(col("role") === "label" ||
        (col("role") === "alias" && col("strong")))
      .groupBy(col("qid"))
      .agg(sort_array(collect_set(lower(col("vString")))).as("namesArr"))
      .withColumn("namesConcat", concat_ws(" ", col("namesArr")))

    // Value-resolve main snaks and date qualifiers in ONE snakText pass
    // (one pair of label joins instead of two), then split by role.
    val resolved = snakText(
      rows.filter(
        (col("role") === "main" &&
          coalesce(col("rank"), lit("normal")) =!= "deprecated") ||
        (col("role") === "qual" &&
          col("prop").isin("P580", "P582", "P585"))), labels)
      .localCheckpoint(false)

    // ---- qualifier date sets per claim (`wikidata/qualified.py:8-30`)
    val qualAgg = resolved
      .filter(col("role") === "qual" && col("text").isNotNull)
      .groupBy(col("claimId")).agg(
      sort_array(collect_set(when(col("prop") === "P580", col("text"))))
        .as("q_starts"),
      sort_array(collect_set(when(col("prop") === "P582", col("text"))))
        .as("q_ends"),
      sort_array(collect_set(when(col("prop") === "P585", col("text"))))
        .as("q_dates"))

    // ---- claims → properties (`enrich/wikidata.py:233-273`)
    val mains = resolved.filter(col("role") === "main")
      .withColumn("ftmProp",
        element_at(typedLit(PropsDirect), col("prop")))
      .filter(col("ftmProp").isNotNull)
      .filter(element_at(propTypeLit, col("ftmProp")).isNotNull)
      .withColumn("ptype", element_at(propTypeLit, col("ftmProp")))

    val qc = typedLit(QidCountries)
    // Country values map through the territory table and topics through
    // the occupation map — both keyed by the claim's QID, independent of
    // whether the dump carries a label for it (`enrich/wikidata.py:246-272`).
    val withValue = mains
      .withColumn("value",
        when(col("ptype") === Ftm.T.Country, element_at(qc, col("vEntity")))
          .when(col("ftmProp") === "topics",
            element_at(typedLit(PropsTopics), col("vEntity")))
          .otherwise(col("text")))
      .withColumn("vlang",
        when(col("ptype") === Ftm.T.Country ||
          col("ftmProp") === "topics", lit(null))
          .otherwise(emitLang(col("tlang"))))
      .withColumn("vorig",
        when(col("ptype") === Ftm.T.Country ||
          col("ftmProp") === "topics", col("vEntity"))
          .otherwise(col("torig")))
      .filter(col("value").isNotNull)

    val checked = withValue
      .join(namesAgg, Seq("qid"), "left_outer")
      // name-part sanity: first/last/father names must appear in the
      // concatenated full names (`enrich/wikidata.py:255-257`).
      .filter(!col("ftmProp").isin("firstName", "lastName", "fatherName") ||
        contains(coalesce(col("namesConcat"), lit("")),
          lower(col("value"))))
      // claim aliases that repeat a known name drop; others classify
      // strong/weak (`enrich/wikidata.py:260-264`).
      .filter(col("ftmProp") =!= "alias" ||
        !array_contains(coalesce(col("namesArr"),
          typedLit(Seq.empty[String])), lower(col("value"))))
      .withColumn("ftmProp",
        when(col("ftmProp") === "alias" &&
          !(col("value").contains(" ") && length(col("value")) >= 3),
          lit("weakAlias")).otherwise(col("ftmProp")))

    // position/education pick up their qualifier range (`:266-267`).
    val qualified = checked
      .join(qualAgg, Seq("claimId"), "left_outer")
      .withColumn("value",
        when(col("ftmProp").isin(PropsQualified.toSeq: _*) &&
          col("q_starts").isNotNull,
          postSummary(col("value"), col("q_starts"), col("q_ends"),
            col("q_dates")))
          .otherwise(col("value")))

    val claimStmts = qualified.select(col("qid"), col("ftmProp").as("prop"),
      col("value"), col("vlang").as("lang"),
      col("vorig").as("original_value"),
      lit(null).cast("string").as("origin"))

    // ---- item-level statements
    val itemIds = rows.select(col("qid")).distinct()
    val idStmts = itemIds.select(col("qid"),
      lit("wikidataId").as("prop"), col("qid").as("value"),
      lit(null).cast("string").as("lang"), col("qid").as("original_value"),
      lit(null).cast("string").as("origin"))

    val descs = rows.filter(col("role") === "desc")
      .withColumn("lang3", langIso(col("lang")))
      .filter(col("lang3").isNotNull && trim(col("vString")) =!= "")
    val wDesc = Window.partitionBy(col("qid"))
      .orderBy(langIdx(col("lang3")), col("vString"))
    val noteStmts = descs.withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .select(col("qid"), lit("notes").as("prop"),
        col("vString").as("value"), emitLang(col("lang3")).as("lang"),
        col("vString").as("original_value"),
        lit(null).cast("string").as("origin"))

    // ---- wikipedia link: enwiki if present, else the alphabetically
    // first wiki when the item has < 3 of them (`enrich/wikidata.py:276-297`).
    val wiki = rows.filter(col("role") === "sitelink" &&
        col("site").endsWith("wiki") && col("site") =!= "commonswiki")
      .withColumn("wikiLang", langIso(
        regexp_replace(expr("substring(site, 1, length(site) - 4)"),
          "_", "-")))
    val wSite = Window.partitionBy(col("qid"))
    val wPick = Window.partitionBy(col("qid")).orderBy(col("site"))
    val wikiStmts = wiki
      .withColumn("cnt", count(lit(1)).over(wSite))
      .withColumn("hasEn",
        max(when(col("site") === "enwiki", 1).otherwise(0)).over(wSite))
      .filter((col("hasEn") === 1 && col("site") === "enwiki") ||
        (col("hasEn") === 0 && col("cnt") < 3))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1 && col("vString").isNotNull)
      .select(col("qid"), lit("wikipediaUrl").as("prop"),
        col("vString").as("value"), col("wikiLang").as("lang"),
        col("title").as("original_value"), col("site").as("origin"))

    val all = nameStmts.unionByName(claimStmts)
      .unionByName(idStmts).unionByName(noteStmts).unionByName(wikiStmts)

    // Person gate: the item must be an instance of Q5
    // (`enrich/wikidata.py:228-230`). Aux items (positions, genders,
    // countries) only serve label resolution and emit nothing.
    val gated = requireInstance match {
      case Some(instanceQid) =>
        val instances = rows.filter(col("role") === "main" &&
            col("prop") === "P31" && col("vEntity") === instanceQid)
          .select(col("qid")).distinct()
        all.join(instances, Seq("qid"), "left_semi")
      case None => all
    }

    gated.select(col("qid").as("entity_id"), lit(schema).as("schema"),
        col("prop"),
        element_at(propTypeLit, col("prop")).as("prop_type"),
        col("value"), col("lang"), col("original_value"), col("origin"))
      .distinct()
  }

  /** Family/associate relationship links — `item_graph` + `make_link`
    * (`enrich/wikidata.py:98-196`) in batch form: every family or
    * association claim between two Q5 persons present in the dump
    * becomes a `Family`/`Associate` link entity
    * `wd-<prop>-<minQid>-<maxQid>` with person/relative(associate)
    * references, the relationship label, qualifier dates
    * (P580/P582/P585), extra relationship qualifiers (P1039/P2868),
    * and P854 reference URLs as sourceUrl.
    *
    * The reference labels the relationship by fetching the property's
    * own label; dump slices don't carry property items, so the curated
    * map value ([[PropsFamily]]/[[PropsAssociation]] — the same
    * wording) stands in.
    */
  def relationships(rows0: DataFrame): DataFrame = {
    val rows = rows0.filter(col("modified").isNotNull)
    val labels = pickedLabels(rows).localCheckpoint(false)
    val persons = rows.filter(col("role") === "main" &&
        col("prop") === "P31" && col("vEntity") === "Q5")
      .select(col("qid")).distinct()

    val famLit = typedLit(PropsFamily)
    val assocLit = typedLit(PropsAssociation)
    val links = rows.filter(col("role") === "main" &&
        coalesce(col("rank"), lit("normal")) =!= "deprecated" &&
        col("vEntity").isNotNull &&
        (element_at(famLit, col("prop")).isNotNull ||
          element_at(assocLit, col("prop")).isNotNull))
      .join(persons, Seq("qid"), "left_semi")
      .join(persons.withColumnRenamed("qid", "vEntity"), Seq("vEntity"),
        "left_semi")
      .withColumn("kind",
        when(element_at(famLit, col("prop")).isNotNull, "Family")
          .otherwise("Associate"))
      .withColumn("targetProp",
        when(col("kind") === "Family", "relative").otherwise("associate"))
      .withColumn("relLabel", coalesce(element_at(famLit, col("prop")),
        element_at(assocLit, col("prop"))))
      .withColumn("linkId", lower(concat(lit("wd-"), col("prop"),
        lit("-"), least(col("qid"), col("vEntity")), lit("-"),
        greatest(col("qid"), col("vEntity")))))
      .select(col("claimId"), col("linkId"), col("kind"), col("qid"),
        col("vEntity"), col("relLabel"), col("targetProp"))
      .localCheckpoint(false)

    def stmt(prop: Column, value: Column) = Seq(col("linkId"),
      col("kind"), prop.as("prop"), value.as("value"),
      lit(null).cast("string").as("lang"), value.as("original_value"))

    val base = links.select(stmt(lit("person"), col("qid")): _*)
      .unionByName(links.select(stmt(col("targetProp"), col("vEntity")): _*))
      .unionByName(links.select(stmt(lit("relationship"),
        col("relLabel")): _*))

    // qualifier dates + extra relationship labels, value-resolved the
    // same way main snaks are (`make_link`, `enrich/wikidata.py:139-153`)
    val qualProp = typedLit(Map("P580" -> "startDate",
      "P582" -> "endDate", "P585" -> "date",
      "P1039" -> "relationship", "P2868" -> "relationship"))
    val quals = snakText(rows.filter(col("role") === "qual" &&
        col("prop").isin("P580", "P582", "P585", "P1039", "P2868")),
        labels)
      .filter(col("text").isNotNull)
      .join(links.select(col("claimId"), col("linkId"), col("kind")),
        Seq("claimId"))
      .select(col("linkId"), col("kind"),
        element_at(qualProp, col("prop")).as("prop"),
        col("text").as("value"), emitLang(col("tlang")).as("lang"),
        col("torig").as("original_value"))

    val refs = rows.filter(col("role") === "ref" &&
        col("prop") === "P854" && col("vString").isNotNull)
      .join(links.select(col("claimId"), col("linkId"), col("kind")),
        Seq("claimId"))
      .select(col("linkId"), col("kind"), lit("sourceUrl").as("prop"),
        col("vString").as("value"), lit(null).cast("string").as("lang"),
        col("vString").as("original_value"))

    val typeLit = typedLit(
      (Ftm.propsOf("Family").map { case (n, p) => s"Family:$n" -> p.tpe } ++
        Ftm.propsOf("Associate").map { case (n, p) =>
          s"Associate:$n" -> p.tpe }).toMap)
    base.unionByName(quals).unionByName(refs)
      .select(col("linkId").as("entity_id"), col("kind").as("schema"),
        col("prop"),
        element_at(typeLit, concat(col("kind"), lit(":"), col("prop")))
          .as("prop_type"),
        col("value"), col("lang"), col("original_value"),
        lit(null).cast("string").as("origin"))
      .distinct()
  }

  /** Widen [[statements]] output to the engine's full 14-column
    * statement table so wikidata-derived entities flow into the store /
    * blocker / xref machinery unchanged (the reference feeds enricher
    * proxies into the same statement store, `enrich/__init__.py:46-103`).
    */
  def toStatementTable(stmts: DataFrame,
      dataset: String = "wikidata"): DataFrame =
    stmts.select(
      md5(concat_ws("|", lit(dataset), col("entity_id"), col("prop"),
        col("value"))).as("id"),
      col("entity_id"),
      col("entity_id").as("canonical_id"),
      col("prop"), col("prop_type"), col("schema"), col("value"),
      col("original_value"),
      lit(dataset).as("dataset"),
      col("origin"),
      col("lang"),
      lit(false).as("external"),
      lit(null).cast("timestamp").as("first_seen"),
      lit(null).cast("timestamp").as("last_seen"))
}
