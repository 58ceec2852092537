package graft.text

/** Cultural reference lexicons for name analysis — the engine's
  * public-data stand-in for the symbol machinery the reference gets
  * from rigour (`matching/logic_v2/names/magic.py:8-45` weights the
  * categories; `blocker/tokenizer.py:61-132` emits them as `sy:`
  * blocking tokens). Categories reproduced here:
  *
  *  - NAME: cross-language/transliteration variant groups of the same
  *    given name (Husayn ~ Hussein, Pavel ~ Paul). Symbol score 0.9,
  *    full weight.
  *  - NICK: hypocorisms (Ted ~ Theodore). Score 0.6, weight 0.8.
  *  - SYMBOL: generic organization words ("systems", "holdings") that
  *    carry almost no discriminating evidence. Matched weight 0.3,
  *    unmatched-extra bias 0.7.
  *  - LOCATION: geographic words in org names ("Siemens Russia" ~
  *    "Siemens" — local-subsidiary suffixes). Matched weight 0.8,
  *    extra bias 0.8.
  *
  * All data below is assembled from common public knowledge (standard
  * hypocorism lists, BGN/PCGN romanization variants, ISO country
  * names) — none of it is copied from the reference's data files.
  */
object Symbols {

  /** Transliteration/variant groups of the same personal name. Token →
    * group id; same id on both sides of a pair ⇒ NAME symbol match.
    *
    * The builtin seed below extends with an EXTERNAL lexicon when one
    * is configured (see [[parseVariantLexicon]]) — the deployment hook
    * for rigour's full nickname/variant tables, whose data the engine
    * cannot redistribute but whose wiring it carries.
    */
  val NameVariants: Map[String, Int] = mergedMap(BuiltinNameGroups,
    ExternalLexicon._1)

  private[text] def BuiltinNameGroups: Seq[Seq[String]] = Seq(
    Seq("hussein", "husayn", "hussain", "husein", "huseyn", "husain"),
    Seq("mohammed", "muhammad", "mohamed", "mohammad", "muhammed",
      "mehmet"),
    Seq("abdul", "abdel", "abdal", "abd"),
    Seq("osama", "usama", "oussama"),
    Seq("ben", "bin", "ibn"),
    Seq("al", "el", "ul"),
    Seq("xi", "hsi", "shi", "si"),
    Seq("zedong", "tsetung"),
    Seq("on", "un"),
    Seq("yong", "young", "jong", "hyong"),
    Seq("sergei", "sergey", "sergej", "serguei", "serhiy", "sergiy"),
    Seq("aleksandr", "alexander", "alexandr", "aleksander", "oleksandr",
      "alexandre", "iskandar"),
    Seq("vladimir", "wladimir", "wolodymyr", "volodymyr", "uladzimir"),
    Seq("zelensky", "zelenskyy", "zelenskyi", "zelenskiy", "zelenskyj",
      "selenskyj", "selensky", "zelenskii"),
    Seq("viktor", "victor"),
    Seq("dmitri", "dmitry", "dmitrii", "dmitriy", "dmytro"),
    Seq("yuri", "yury", "yurii", "iurii", "jurij"),
    Seq("andrei", "andrey", "andrew", "andriy", "andrej"),
    Seq("nikolai", "nikolay", "nicholas", "mykola", "nikolaj"),
    Seq("pyotr", "petr", "peter", "piotr", "petro"),
    Seq("pavel", "paul", "pablo", "paolo", "pol", "pavlo", "paulo"),
    Seq("wilhelm", "william", "guillaume", "guillermo", "willem"),
    Seq("yekaterina", "ekaterina", "katarina", "katerina", "kateryna"),
    Seq("natalia", "natalya", "nataliya", "natallia"),
    Seq("yevgeny", "evgeny", "evgenii", "yevgeniy", "evgeniy", "eugene"),
    Seq("gennady", "gennadiy", "gennadii"),
    Seq("grigory", "grigoriy", "grigori", "gregory", "hryhoriy"),
    Seq("vasily", "vasiliy", "vasilii", "vasyl"),
    Seq("mikhail", "michail", "mikhayl", "mykhailo", "michael"),
    Seq("ivan", "iwan", "ioann"),
    Seq("fyodor", "fedor", "feodor", "theodore"),
    Seq("gaddafi", "gadhafi", "qaddafi", "qadhafi", "kadhafi",
      "gheddafi"))

  /** Hypocorism groups (NICK symbols): a short form and its full name.
    * Weaker evidence than a NAME variant — "Bill Smith" could be any
    * William.
    */
  val Nicknames: Map[String, Int] = mergedMap(BuiltinNickGroups,
    ExternalLexicon._2)

  private[text] def BuiltinNickGroups: Seq[Seq[String]] = Seq(
    Seq("william", "bill", "billy", "will", "willy", "liam"),
    Seq("benjamin", "ben", "benny"),
    Seq("theodore", "ted", "teddy", "theo"),
    Seq("robert", "bob", "bobby", "rob", "robbie"),
    Seq("richard", "dick", "rick", "ricky", "rich"),
    Seq("james", "jim", "jimmy", "jamie"),
    Seq("michael", "mike", "mikey"),
    Seq("mikhail", "misha"),
    Seq("thomas", "tom", "tommy"),
    Seq("timothy", "tim", "timmy"),
    Seq("aleksandr", "sasha", "alex", "sander"),
    Seq("elizabeth", "liz", "beth", "lizzie", "betsy", "eliza"),
    Seq("margaret", "maggie", "meg", "peggy"),
    Seq("katherine", "kate", "katie", "kathy", "cathy"),
    Seq("john", "jack", "johnny", "jon"),
    Seq("joseph", "joe", "joey"),
    Seq("daniel", "dan", "danny"),
    Seq("david", "dave", "davy"),
    Seq("charles", "charlie", "chuck"),
    Seq("anthony", "tony"),
    Seq("steven", "stephen", "steve"),
    Seq("edward", "ed", "eddie"),
    Seq("nicholas", "nick"),
    Seq("christopher", "chris"),
    Seq("matthew", "matt"),
    Seq("patrick", "pat", "paddy"),
    Seq("samuel", "sam", "sammy"),
    Seq("peter", "pete"),
    Seq("ronald", "ron", "ronnie"),
    Seq("donald", "don", "donnie"),
    Seq("kenneth", "ken", "kenny"),
    Seq("gerald", "gerry", "jerry"),
    Seq("lawrence", "larry"),
    Seq("francis", "frank", "frankie"),
    Seq("frederick", "fred", "freddy"),
    Seq("gregory", "greg"),
    Seq("raymond", "ray"),
    Seq("walter", "walt", "wally"),
    Seq("henry", "hank", "harry"),
    Seq("albert", "al", "bert"),
    Seq("eugene", "gene"),
    Seq("vladimir", "vova", "volodya"),
    Seq("susan", "sue", "susie"),
    Seq("deborah", "debbie", "deb"),
    Seq("jennifer", "jen", "jenny"),
    Seq("pamela", "pam"),
    Seq("barbara", "barb", "babs"),
    Seq("victoria", "vicky"),
    Seq("abigail", "abby"),
    Seq("rebecca", "becky"),
    Seq("alexandra", "sandra", "sandy"))

  /** Generic organization words (SYMBOL category): match evidence near
    * zero, mismatch evidence damped. Deliberately excludes plain
    * stopwords (the/of/and — those take the stopword path) and words
    * the frozen-run fit showed the reference treats at full weight
    * (bank, capital, investment, construction, state? — "state" IS
    * here; see NameBenchParitySpec).
    */
  val GenericOrgWords: Set[String] = Set(
    // "co" (the fingerprint replacement of "company") is SYMBOL-class
    // generic, not an org-class legal form: the frozen run scores a
    // matched "Company" at weight 0.3 ("CDE Company" ~ "A.B.C. Company"
    // = 0.3/1.3 = 0.23), not the 0.7 legal-form weight
    "co", "company",
    "group", "trust", "foundation", "fund", "government", "ministry",
    "state", "holding", "holdings", "association", "institute",
    "society", "committee", "council", "organization", "organisation",
    "agency", "bureau", "office", "systems", "solutions", "global",
    "national", "general", "industries", "industrial",
    // technology/technologies deliberately NOT generic: "Bowne
    // Enterprise Solutions" ~ "Bowne Technology Enterprise" is the
    // frozen 0.7246 = 2/2.76 with the technology extra at full 0.2
    "services", "enterprises", "enterprise", "partners",
    "international", "intl", "resources", "logistics", "trading",
    "management", "consulting",
    // frozen-run fits (r7): "China Railroad/Railway Engineering
    // Corporation" = 1.8/2.8 = 0.6429 and "China State Construction
    // Equipment/Engineering Corporation" = 2.1/3.1 = 0.6774 pin
    // engineering/construction at matched weight 0.3; "Bowne Business
    // Solutions/Enterprises" (0.4815) pins business; "Citigroup
    // Capital Trust I/II" (0.6154 = 1.6/2.6) pins capital; Blackstone
    // Real Estate Partners IV/V (0.7297) pins real/estate
    "business", "engineering", "construction", "capital", "real",
    "estate", "equipment")

  /** Geographic words (LOCATION category) — local-subsidiary qualifiers
    * in org names. ISO short names + common adjectival forms.
    */
  val Locations: Set[String] = Set(
    "france", "french", "germany", "german", "ireland", "irish",
    "japan", "japanese", "sweden", "swedish", "finland", "finnish",
    "denmark", "danish", "norway", "norwegian", "spain", "spanish",
    "netherlands", "dutch", "belgium", "belgian", "austria", "austrian",
    "switzerland", "swiss", "italy", "italian", "portugal", "portuguese",
    "poland", "polish", "russia", "russian", "ukraine", "ukrainian",
    "chinese", "india", "indian", "america", "american",
    "usa", "uk", "britain", "british", "england", "english", "scotland",
    "canada", "canadian", "australia", "australian", "mexico", "mexican",
    "brazil", "brazilian", "argentina", "turkey", "turkish", "iran",
    "iranian", "iraq", "iraqi", "syria", "syrian", "saudi", "arabia",
    "arabian", "egypt", "egyptian", "israel", "israeli", "europe",
    "european", "asia", "asian", "africa", "african", "america",
    "americas", "atlantic", "pacific", "nordic", "baltic", "korea",
    "korean", "vietnam", "singapore", "malaysia", "indonesia",
    "thailand", "philippines", "hongkong", "taiwan", "greece", "greek",
    "hungary", "hungarian", "romania", "romanian", "bulgaria", "czech",
    "slovakia", "croatia", "serbia", "serbian", "kazakhstan", "belarus",
    "moldova", "georgia", "armenia", "armenian", "azerbaijan", "cyprus",
    "malta", "luxembourg", "monaco", "emirates", "qatar", "kuwait",
    "bahrain", "oman", "jordan", "lebanon", "libya", "tunisia",
    "algeria", "morocco", "nigeria", "kenya", "ghana", "peru",
    "colombia", "venezuela", "ecuador", "bolivia", "uruguay", "panama",
    "cuba", "deutschland", "espana", "italia", "polska",
    // major cities — subsidiary qualifiers ("Bowne of Atlanta")
    "london", "paris", "moscow", "beijing", "shanghai", "tokyo",
    "berlin", "munich", "frankfurt", "hamburg", "vienna", "madrid",
    "barcelona", "milan", "rome", "amsterdam", "brussels", "geneva",
    "zurich", "dublin", "stockholm", "oslo", "copenhagen", "helsinki",
    "warsaw", "prague", "budapest", "kyiv", "kiev", "istanbul",
    "dubai", "mumbai", "delhi", "sydney", "melbourne", "toronto",
    "montreal", "york", "atlanta", "boston", "chicago", "cleveland",
    "houston", "dallas", "denver", "seattle", "miami", "philadelphia",
    "pittsburgh", "detroit", "phoenix", "minneapolis")

  private def groupMap(groups: Seq[Seq[String]]): Map[String, Int] =
    groups.zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap

  // ---------------------------------------------- external variant lexicon

  /** Parse an external variant-lexicon file: one group per line,
    * whitespace-separated lowercase tokens, the FIRST token the
    * category tag (`name` for transliteration variants, `nick` for
    * hypocorisms); `#` at a token boundary starts a comment. Returns
    * (name groups, nick groups). Example:
    *
    * {{{
    * # rigour-style variant data, not redistributed with the engine
    * name hussein husayn hussain
    * nick william bill billy liam
    * }}}
    */
  private[text] def parseVariantLexicon(lines: Iterator[String])
      : (Seq[Seq[String]], Seq[Seq[String]]) = {
    val name = Seq.newBuilder[Seq[String]]
    val nick = Seq.newBuilder[Seq[String]]
    lines.zipWithIndex.foreach { case (raw, i) =>
      // comment only at a token boundary — '#' inside a token is data
      // (the EnricherConfigs YAML-comment rule)
      val line = raw.replaceAll("(^|\\s)#.*$", "").trim
      if (line.nonEmpty) {
        val toks = line.split("\\s+").toSeq
        val group = toks.tail.map(_.toLowerCase)
        if (toks.size < 3)
          throw new IllegalArgumentException(
            s"variant lexicon line ${i + 1}: a group needs a category " +
              s"tag and >= 2 tokens: '$raw'")
        toks.head.toLowerCase match {
          case "name" => name += group
          case "nick" => nick += group
          case t => throw new IllegalArgumentException(
            s"variant lexicon line ${i + 1}: unknown category '$t' " +
              "(expected 'name' or 'nick')")
        }
      }
    }
    (name.result(), nick.result())
  }

  /** Union-merge groups sharing any token (a lexicon EXTENDS the seed:
    * builtin (william, bill) + external (william, guillermo) must keep
    * bill ~ william while adding guillermo — id-overwrite semantics
    * would silently break the builtin pair). Deterministic: roots and
    * output ordered lexicographically, so every JVM (driver and each
    * executor parses the same file at class init) derives identical
    * group ids.
    */
  private[text] def unionGroups(groups: Seq[Seq[String]])
      : Seq[Seq[String]] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    groups.foreach { g =>
      g.headOption.foreach { h =>
        g.tail.foreach { t =>
          val (ra, rb) = (find(h), find(t))
          if (ra != rb) parent(rb) = ra
        }
      }
    }
    groups.flatten.distinct.groupBy(find).toSeq.sortBy(_._1)
      .map(_._2.sorted)
  }

  /** The merged token → group-id map. With NO external lexicon this is
    * exactly `groupMap(builtin)` — byte-identical ids to the
    * lexicon-less engine, so the gated `sy:` token streams (and the
    * blocker artifacts keyed on them) are unchanged. With one, the
    * union-merged groups re-id deterministically and
    * [[lexiconFingerprint]] re-keys every lake artifact.
    */
  private[text] def mergedMap(builtin: Seq[Seq[String]],
      external: Seq[Seq[String]]): Map[String, Int] =
    if (external.isEmpty) groupMap(builtin)
    else groupMap(unionGroups(builtin ++ external))

  /** External lexicon location: `-Dgraft.name.variants` or
    * `GRAFT_NAME_VARIANTS`. Read ONCE per JVM at class initialization —
    * on a cluster ship the file to every executor and point both sides
    * at it (`spark-submit --files variants.txt` plus
    * `spark.executorEnv.GRAFT_NAME_VARIANTS=./variants.txt`); a
    * driver-only file would silently diverge driver- and executor-side
    * scoring, which is why the path is deliberately NOT a runtime
    * setter.
    */
  private[graft] def lexiconPath: Option[String] =
    sys.props.get("graft.name.variants")
      .orElse(sys.env.get("GRAFT_NAME_VARIANTS"))

  private lazy val ExternalLexicon
      : (Seq[Seq[String]], Seq[Seq[String]]) = lexiconPath match {
    case None => (Nil, Nil)
    case Some(p) =>
      val src = scala.io.Source.fromFile(p)(scala.io.Codec.UTF8)
      try parseVariantLexicon(src.getLines()) finally src.close()
  }

  /** Content hash of the configured lexicon ("" when none) — folded
    * into every IndexLake artifact fingerprint: the blocker entries /
    * TF artifacts embed `sy:` group ids, so a changed lexicon must
    * re-key the lake exactly like a changed engine build.
    */
  lazy val lexiconFingerprint: String = lexiconPath match {
    case None => ""
    case Some(p) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)))
      md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Org-class surface form → canonical class ("limited" → "ltd").
    * Built from the fingerprint legal-form table plus short forms that
    * only exist post-normalization. "international"/"united states" are
    * fingerprint replacements, not legal forms, and are excluded — they
    * must not class-pair with real legal-form tokens.
    */
  val OrgClasses: Map[String, String] = {
    val m = TextNorm.LegalForms -- Seq("international", "united states")
    (m.map { case (long, short) => long.replace(" ", "") -> short } ++
      m.values.map(v => v -> v)).toMap ++
      Map("oao" -> "oao", "zao" -> "zao", "ooo" -> "ooo", "pao" -> "pao",
        "ao" -> "ao", "ojsc" -> "ojsc", "cjsc" -> "cjsc", "pjsc" -> "pjsc",
        "jsc" -> "jsc", "bvba" -> "bvba", "sprl" -> "bvba",
        "spzoo" -> "spzoo", "lp" -> "lp", "llp" -> "llp", "ab" -> "ab",
        "sas" -> "sas", "spa" -> "spa", "oy" -> "oy", "as" -> "as",
        "sl" -> "sl")
  }

  /** Cross-language equivalence groups over canonical classes: the
    * whole stock-company family (OAO/ZAO/PAO/AO and the OJSC/CJSC/PJSC/
    * JSC transliterations) collapses to one group.
    */
  val OrgClassGroups: Map[String, String] = Map(
    "oao" -> "jsc", "zao" -> "jsc", "ooo" -> "llc", "pao" -> "jsc",
    "ao" -> "jsc", "ojsc" -> "jsc", "cjsc" -> "jsc", "pjsc" -> "jsc",
    "sarl" -> "sarl", "srl" -> "sarl", "bvba" -> "bv")

  def orgClassGroup(canon: String): String =
    OrgClassGroups.getOrElse(canon, canon)

  /** Blocking symbol tokens of one (lowercased, fingerprinted) name
    * part — the engine's `sy:` token families, mirroring the reference
    * tokenizer's symbol emission (`blocker/tokenizer.py:61-132`, which
    * skips INITIAL and SYMBOL categories):
    * `sy:name:<group>`, `sy:nick:<group>`, `sy:location:<word>`,
    * `sy:org_class:<group>`, `sy:numeric:<value>`.
    */
  def blockingSymbols(part: String): Seq[String] = {
    val b = Seq.newBuilder[String]
    NameVariants.get(part).foreach(g => b += s"sy:name:$g")
    Nicknames.get(part).foreach(g => b += s"sy:nick:$g")
    if (Locations(part)) b += s"sy:location:$part"
    OrgClasses.get(part).foreach(c =>
      b += s"sy:org_class:${orgClassGroup(c)}")
    if (part.nonEmpty && part.length <= 15 && part.forall(_.isDigit))
      b += s"sy:numeric:${BigInt(part)}"
    b.result()
  }

  /** Same NAME variant group on both sides. */
  def sameNameVariant(a: String, b: String): Boolean =
    a != b && NameVariants.get(a).exists(NameVariants.get(b).contains)

  /** Same NICK group on both sides. */
  def sameNick(a: String, b: String): Boolean =
    a != b && Nicknames.get(a).exists(Nicknames.get(b).contains)
}
