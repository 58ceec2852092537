package graft.text

import java.util.regex.Pattern

/** Pure-Scala name normalization: the engine's stand-in for the
  * fingerprints/rigour cleanup chain the reference wraps in
  * `matching/compat.py:27-59` (lowercase, person-prefix removal, ascii
  * fold, legal-form replacement, space squash). Pure functions — unit
  * testable without Spark, shared by the tokenizer and every comparator.
  */
object TextNorm {

  private val accentMap: Map[Char, String] = Map(
    'à' -> "a", 'á' -> "a", 'â' -> "a", 'ã' -> "a", 'ä' -> "a", 'å' -> "a",
    'æ' -> "ae", 'ç' -> "c", 'è' -> "e", 'é' -> "e", 'ê' -> "e", 'ë' -> "e",
    'ì' -> "i", 'í' -> "i", 'î' -> "i", 'ï' -> "i", 'ñ' -> "n", 'ò' -> "o",
    'ó' -> "o", 'ô' -> "o", 'õ' -> "o", 'ö' -> "o", 'ø' -> "o", 'ù' -> "u",
    'ú' -> "u", 'û' -> "u", 'ü' -> "u", 'ý' -> "y", 'ÿ' -> "y", 'ß' -> "ss",
    'š' -> "s", 'ž' -> "z", 'đ' -> "d", 'ł' -> "l", 'ć' -> "c", 'č' -> "c")

  /** Cyrillic → Latin romanization (BGN/PCGN-style, the common
    * transliteration the reference gets from rigour's script handling).
    */
  private val cyrillicMap: Map[Char, String] = Map(
    'а' -> "a", 'б' -> "b", 'в' -> "v", 'г' -> "g", 'д' -> "d",
    'е' -> "e", 'ё' -> "e", 'ж' -> "zh", 'з' -> "z", 'и' -> "i",
    // й → j (scientific translit): "Сергей" must read "sergej" so the
    // "Serej Lavrov" frozen case aligns at one edit, and the
    // sergej/sergey variant group catches the BGN spelling
    'й' -> "j", 'к' -> "k", 'л' -> "l", 'м' -> "m", 'н' -> "n",
    'о' -> "o", 'п' -> "p", 'р' -> "r", 'с' -> "s", 'т' -> "t",
    'у' -> "u", 'ф' -> "f", 'х' -> "kh", 'ц' -> "ts", 'ч' -> "ch",
    'ш' -> "sh", 'щ' -> "shch", 'ъ' -> "", 'ы' -> "y", 'ь' -> "",
    'э' -> "e", 'ю' -> "yu", 'я' -> "ya",
    'і' -> "i", 'ї' -> "yi", 'є' -> "ye", 'ґ' -> "g",
    // Serbian/Macedonian letters
    'ђ' -> "dj", 'ј' -> "j", 'љ' -> "lj", 'њ' -> "nj", 'ћ' -> "c",
    'џ' -> "dz", 'ѓ' -> "g", 'ќ' -> "k", 'ѕ' -> "dz")

  /** Greek → Latin (ELOT-style, lowercase input). */
  private val greekMap: Map[Char, String] = Map(
    'α' -> "a", 'β' -> "v", 'γ' -> "g", 'δ' -> "d", 'ε' -> "e",
    'ζ' -> "z", 'η' -> "i", 'θ' -> "th", 'ι' -> "i", 'κ' -> "k",
    'λ' -> "l", 'μ' -> "m", 'ν' -> "n", 'ξ' -> "x", 'ο' -> "o",
    'π' -> "p", 'ρ' -> "r", 'σ' -> "s", 'ς' -> "s", 'τ' -> "t",
    'υ' -> "y", 'φ' -> "f", 'χ' -> "ch", 'ψ' -> "ps", 'ω' -> "o",
    'ά' -> "a", 'έ' -> "e", 'ή' -> "i", 'ί' -> "i", 'ό' -> "o",
    'ύ' -> "y", 'ώ' -> "o", 'ϊ' -> "i", 'ϋ' -> "y")

  /** Armenian → Latin (lowercase input; simplified 1:1). */
  private val armenianMap: Map[Char, String] = Map(
    'ա' -> "a", 'բ' -> "b", 'գ' -> "g", 'դ' -> "d", 'ե' -> "e",
    'զ' -> "z", 'է' -> "e", 'ը' -> "e", 'թ' -> "t", 'ժ' -> "zh",
    'ի' -> "i", 'լ' -> "l", 'խ' -> "kh", 'ծ' -> "ts", 'կ' -> "k",
    'հ' -> "h", 'ձ' -> "dz", 'ղ' -> "gh", 'ճ' -> "ch", 'մ' -> "m",
    'յ' -> "y", 'ն' -> "n", 'շ' -> "sh", 'ո' -> "o", 'չ' -> "ch",
    'պ' -> "p", 'ջ' -> "j", 'ռ' -> "r", 'ս' -> "s", 'վ' -> "v",
    'տ' -> "t", 'ր' -> "r", 'ց' -> "ts", 'ւ' -> "", 'փ' -> "p",
    'ք' -> "k", 'օ' -> "o", 'ֆ' -> "f", 'և' -> "ev")

  /** Arabic → Latin (base letters; harakat vanish via the combining-
    * mark strip, vowel ambiguity is inherent to the script — the edit
    * budget absorbs it).
    */
  private val arabicMap: Map[Char, String] = Map(
    'ا' -> "a", 'آ' -> "a", 'أ' -> "a", 'إ' -> "i", 'ء' -> "",
    'ؤ' -> "u", 'ئ' -> "i", 'ب' -> "b", 'ت' -> "t", 'ث' -> "th",
    'ج' -> "j", 'ح' -> "h", 'خ' -> "kh", 'د' -> "d", 'ذ' -> "dh",
    'ر' -> "r", 'ز' -> "z", 'س' -> "s", 'ش' -> "sh", 'ص' -> "s",
    'ض' -> "d", 'ط' -> "t", 'ظ' -> "z", 'ع' -> "", 'غ' -> "gh",
    'ف' -> "f", 'ق' -> "q", 'ك' -> "k", 'ل' -> "l", 'م' -> "m",
    'ن' -> "n", 'ه' -> "h", 'و' -> "w", 'ي' -> "i", 'ى' -> "a",
    'ة' -> "a", 'پ' -> "p", 'چ' -> "ch", 'ژ' -> "zh", 'گ' -> "g")

  /** Bengali → Latin, consonant-skeleton style (no inherent vowels —
    * edit-distance comparators tolerate the residue, and the frozen
    * logic-v2 run's Bengali near-pair reproduces exactly:
    * "মোহাম্মদ শামসুদ্দিন" → "mohammd shamsuddin" vs
    * "মোহাম্মদ সাহাবুদ্দিন" → "mohammd sahabuddin", whose d=3 fuzzy is
    * dead → 1/2 = the frozen 0.50). Virama and candrabindu drop.
    */
  private val bengaliMap: Map[Char, String] = Map(
    'অ' -> "a", 'আ' -> "a", 'ই' -> "i", 'ঈ' -> "i", 'উ' -> "u",
    'ঊ' -> "u", 'ঋ' -> "ri", 'এ' -> "e", 'ঐ' -> "oi", 'ও' -> "o",
    'ঔ' -> "ou",
    'ক' -> "k", 'খ' -> "kh", 'গ' -> "g", 'ঘ' -> "gh", 'ঙ' -> "ng",
    'চ' -> "ch", 'ছ' -> "chh", 'জ' -> "j", 'ঝ' -> "jh", 'ঞ' -> "n",
    'ট' -> "t", 'ঠ' -> "th", 'ড' -> "d", 'ঢ' -> "dh", 'ণ' -> "n",
    'ত' -> "t", 'থ' -> "th", 'দ' -> "d", 'ধ' -> "dh", 'ন' -> "n",
    'প' -> "p", 'ফ' -> "ph", 'ব' -> "b", 'ভ' -> "bh", 'ম' -> "m",
    'য' -> "j", 'র' -> "r", 'ল' -> "l", 'শ' -> "sh", 'ষ' -> "sh",
    // (ড়/ঢ়/য় are base+nukta sequences: the nukta maps to "" below,
    // so they fold through their base consonants)
    'স' -> "s", 'হ' -> "h",
    'ৎ' -> "t", 'ং' -> "ng", 'ঃ' -> "h", 'ঁ' -> "",
    'া' -> "a", 'ি' -> "i", 'ী' -> "i", 'ু' -> "u", 'ূ' -> "u",
    'ৃ' -> "ri", 'ে' -> "e", 'ৈ' -> "oi", 'ো' -> "o", 'ৌ' -> "ou",
    '্' -> "", '়' -> "")

  /** Georgian (mkhedruli, caseless) → Latin. */
  private val georgianMap: Map[Char, String] = Map(
    'ა' -> "a", 'ბ' -> "b", 'გ' -> "g", 'დ' -> "d", 'ე' -> "e",
    'ვ' -> "v", 'ზ' -> "z", 'თ' -> "t", 'ი' -> "i", 'კ' -> "k",
    'ლ' -> "l", 'მ' -> "m", 'ნ' -> "n", 'ო' -> "o", 'პ' -> "p",
    'ჟ' -> "zh", 'რ' -> "r", 'ს' -> "s", 'ტ' -> "t", 'უ' -> "u",
    'ფ' -> "p", 'ქ' -> "k", 'ღ' -> "gh", 'ყ' -> "q", 'შ' -> "sh",
    'ჩ' -> "ch", 'ც' -> "ts", 'ძ' -> "dz", 'წ' -> "ts", 'ჭ' -> "ch",
    'ხ' -> "kh", 'ჯ' -> "j", 'ჰ' -> "h")

  // Hangul syllable decomposition (U+AC00..U+D7A3) → Revised
  // Romanization. A syllable is 0xAC00 + (initial*21 + medial)*28 + final.
  private val hangulInitials = Array("g", "kk", "n", "d", "tt", "r", "m",
    "b", "pp", "s", "ss", "", "j", "jj", "ch", "k", "t", "p", "h")
  private val hangulMedials = Array("a", "ae", "ya", "yae", "eo", "e",
    "yeo", "ye", "o", "wa", "wae", "oe", "yo", "u", "wo", "we", "wi",
    "yu", "eu", "ui", "i")
  private val hangulFinals = Array("", "g", "kk", "gs", "n", "nj", "nh",
    "d", "l", "lg", "lm", "lb", "ls", "lt", "lp", "lh", "m", "b", "bs",
    "s", "ss", "ng", "j", "ch", "k", "t", "p", "h")

  private def romanizeHangul(c: Char): String = {
    val off = c - 0xAC00
    hangulInitials(off / (21 * 28)) + hangulMedials(off / 28 % 21) +
      hangulFinals(off % 28)
  }

  /** Katakana → romaji (base syllables; small-kana combinations are
    * approximated by their plain vowels, the long-vowel mark dropped —
    * edit-distance comparators tolerate the residue).
    */
  private val kanaMap: Map[Char, String] = Map(
    'ア' -> "a", 'イ' -> "i", 'ウ' -> "u", 'エ' -> "e", 'オ' -> "o",
    'カ' -> "ka", 'キ' -> "ki", 'ク' -> "ku", 'ケ' -> "ke", 'コ' -> "ko",
    'サ' -> "sa", 'シ' -> "shi", 'ス' -> "su", 'セ' -> "se", 'ソ' -> "so",
    'タ' -> "ta", 'チ' -> "chi", 'ツ' -> "tsu", 'テ' -> "te", 'ト' -> "to",
    'ナ' -> "na", 'ニ' -> "ni", 'ヌ' -> "nu", 'ネ' -> "ne", 'ノ' -> "no",
    'ハ' -> "ha", 'ヒ' -> "hi", 'フ' -> "fu", 'ヘ' -> "he", 'ホ' -> "ho",
    'マ' -> "ma", 'ミ' -> "mi", 'ム' -> "mu", 'メ' -> "me", 'モ' -> "mo",
    'ヤ' -> "ya", 'ユ' -> "yu", 'ヨ' -> "yo",
    'ラ' -> "ra", 'リ' -> "ri", 'ル' -> "ru", 'レ' -> "re", 'ロ' -> "ro",
    'ワ' -> "wa", 'ヲ' -> "o", 'ン' -> "n",
    'ガ' -> "ga", 'ギ' -> "gi", 'グ' -> "gu", 'ゲ' -> "ge", 'ゴ' -> "go",
    'ザ' -> "za", 'ジ' -> "ji", 'ズ' -> "zu", 'ゼ' -> "ze", 'ゾ' -> "zo",
    'ダ' -> "da", 'ヂ' -> "ji", 'ヅ' -> "zu", 'デ' -> "de", 'ド' -> "do",
    'バ' -> "ba", 'ビ' -> "bi", 'ブ' -> "bu", 'ベ' -> "be", 'ボ' -> "bo",
    'パ' -> "pa", 'ピ' -> "pi", 'プ' -> "pu", 'ペ' -> "pe", 'ポ' -> "po",
    'ァ' -> "a", 'ィ' -> "i", 'ゥ' -> "u", 'ェ' -> "e", 'ォ' -> "o",
    'ャ' -> "ya", 'ュ' -> "yu", 'ョ' -> "yo", 'ッ' -> "", 'ー' -> "")

  private def romanizeChar(c: Char): Option[String] =
    if (c >= 0xAC00 && c <= 0xD7A3) Some(romanizeHangul(c))
    else if (c >= 'ぁ' && c <= 'ゖ') // hiragana → same table via offset
      kanaMap.get((c + 0x60).toChar)
    else greekMap.get(c).orElse(armenianMap.get(c))
      .orElse(georgianMap.get(c)).orElse(kanaMap.get(c))
      .orElse(arabicMap.get(c)).orElse(bengaliMap.get(c))
      .orElse(Transliterate.han.get(c))
      .orElse(Transliterate.khmer.get(c))

  /** Lowercase + latin accent fold + script romanization (cyrillic,
    * greek, armenian, georgian, hangul, kana, khmer, common-character
    * pinyin via [[Transliterate]]) — the pragmatic subset of rigour's
    * script handling the fixtures and name-bench need.
    */
  /** Generic diacritic strip for any Latin letter the explicit map
    * misses (ă, ș, ț, ą, ř, ő …): NFD-decompose and drop combining
    * marks. Returns None when decomposition changes nothing.
    */
  private def stripDiacritics(c: Char): Option[String] = {
    val d = java.text.Normalizer.normalize(c.toString,
      java.text.Normalizer.Form.NFD)
      .filterNot(ch => Character.getType(ch) == Character.NON_SPACING_MARK)
    if (d == c.toString) None else Some(d)
  }

  def foldAscii(s: String): String = {
    val lower0 = s.toLowerCase
    // nothing below changes an all-ASCII string
    if (isAscii(lower0)) return lower0
    // word-level Han name translations run before the per-character
    // pinyin fallback (see Transliterate.hanNames)
    val lower =
      if (Transliterate.hasHan(lower0)) Transliterate.applyHanNames(lower0)
      else lower0
    // Khmer needs register/cluster state, not a character map
    val pre =
      if (Transliterate.hasKhmer(lower)) Transliterate.khmerWord(lower)
      else lower
    val b = new java.lang.StringBuilder(pre.length)
    var i = 0
    while (i < pre.length) {
      val c = pre.charAt(i)
      if (c < 128) b.append(c) else b.append(foldChar(c))
      i += 1
    }
    b.toString
  }

  /** The folded spelling of one non-ASCII character of lowercase text. */
  private[text] def foldChar(c: Char): String =
    accentMap.getOrElse(c, cyrillicMap.getOrElse(c,
      romanizeChar(c)
        .orElse(stripDiacritics(c))
        .getOrElse(c.toString)))

  private def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length && s.charAt(i) < 128) i += 1
    i == s.length
  }

  /** Apostrophe-family characters are deleted, not spaced: "Qa'ida" is
    * one token ("qaida"), "People's" is "peoples" (rigour's cleanup does
    * the same — splitting on the apostrophe makes possessive-s and
    * glottal-stop marks spurious tokens).
    */
  private val Apostrophes: Set[Char] = Set('\'', '’', '‘', 'ʻ', 'ʼ', '`', '´')

  // Every regex of the scoring path is compiled once here; a
  // `String.replaceAll` compiles its pattern on every call.
  private val Spaces = Pattern.compile("\\s+")
  private val NonAlnum = Pattern.compile("[^A-Z0-9]")

  /** Light cleanup (`clean_name_light`): lowercase, squash whitespace,
    * keep letters/digits/spaces.
    */
  def cleanNameLight(s: String): Option[String] = {
    val spaced = s.toLowerCase.filterNot(Apostrophes).map(c =>
      if (c.isLetterOrDigit) c else ' ')
    val out = Spaces.matcher(spaced).replaceAll(" ").trim
    if (out.isEmpty) None else Some(out)
  }

  /** Hard cleanup (`clean_name_ascii`): fold accents then light-clean. */
  def cleanNameAscii(s: String): Option[String] =
    cleanNameLight(foldAscii(s))

  /** Person-name prefixes removed before fingerprinting (subset of
    * rigour's `remove_person_prefixes`).
    */
  val PersonPrefixes: Seq[String] = Seq(
    "mr", "mrs", "ms", "miss", "dr", "prof", "sir", "herr", "frau",
    "monsieur", "madame", "mme", "dott", "shri", "smt")

  /** Honorifics/titles stripped from PERSON names only ("Präsident
    * Barack Obama" ~ "Barack Obama" scores 1.0 in the frozen logic-v2
    * run; "President Erdoğan" ~ "Recep Tayyip Erdoğan" 0.7143). Kept
    * separate from [[PersonPrefixes]] because the generic fingerprint
    * also runs on org names, where "General Motors" and "Saint Gobain"
    * must survive intact.
    */
  val Honorifics: Seq[String] = Seq(
    "president", "präsident", "prasident", "président", "presidente",
    // NB: amir/emir/sultan/haji deliberately absent — they are common
    // given names ("AMIR SAYYID ABDULLAH"), not just titles
    "mister", "madam", "lady", "lord", "dame", "rev", "hon",
    "sheikh", "shaikh", "sheik", "shaykh",
    "imam", "mullah", "ayatollah",
    "general", "gen", "colonel", "col", "major", "maj", "captain",
    "capt", "admiral", "adm", "commander", "sergeant", "sgt",
    "lieutenant", "lt", "senator", "sen", "governor", "gov", "mayor",
    "minister", "secretary", "ambassador", "chancellor", "judge",
    "justice", "rabbi", "bishop", "cardinal", "pastor")

  private val HonorificSet: Set[String] = Honorifics.toSet

  /** Strip leading honorific tokens from a cleaned person name. */
  def removeHonorifics(cleaned: String): String = {
    val parts = cleaned.split(' ').toList
    val rest = parts.dropWhile(HonorificSet)
    if (rest.isEmpty) cleaned else rest.mkString(" ")
  }

  def removePersonPrefixes(name: String): String = {
    var out = name
    var changed = true
    while (changed) {
      changed = false
      for (p <- PersonPrefixes) {
        val n = p.length
        // `p + " "` or `p + ". "` starts the name
        if (out.startsWith(p) && out.length > n && (out.charAt(n) == ' ' ||
            (out.charAt(n) == '.' && out.length > n + 1 &&
              out.charAt(n + 1) == ' '))) {
          out = out.substring(if (out.charAt(n) == '.') n + 1 else n).trim
          changed = true
        }
      }
    }
    out
  }

  /** Legal-form replacements (subset of the fingerprints `replace_types`
    * table — enough for the fixture corpora; extend as data demands).
    */
  val LegalForms: Map[String, String] = Map(
    "limited" -> "ltd", "incorporated" -> "inc", "corporation" -> "corp",
    "company" -> "co", "aktiengesellschaft" -> "ag",
    "gesellschaft mit beschrankter haftung" -> "gmbh",
    "societe anonyme" -> "sa", "public limited company" -> "plc",
    "limited liability company" -> "llc",
    "kommanditgesellschaft" -> "kg", "offene handelsgesellschaft" -> "ohg",
    "eingetragener verein" -> "ev", "e v" -> "ev",
    "societe a responsabilite limitee" -> "sarl",
    "societatea cu raspundere limitata" -> "srl",
    "societate cu raspundere limitata" -> "srl",
    "open joint stock company" -> "ojsc", "joint stock company" -> "jsc",
    "aktsionernoe obshchestvo" -> "ao",
    "obshchestvo s ogranichennoy otvetstvennostyu" -> "ooo",
    // й→j romanization spelling of the same phrase
    "obshchestvo s ogranichennoj otvetstvennostyu" -> "ooo",
    "besloten vennootschap" -> "bv", "naamloze vennootschap" -> "nv",
    "international" -> "intl", "united states" -> "us")

  // Longest key first: Map iteration order is arbitrary, and a short
  // key replacing first destroys the longer phrase it is part of
  // ("limited" → "ltd" would turn "limited liability company" into
  // "ltd liability co" so the "llc" entry could never fire).
  // Each pattern runs only on a string that contains its literal, so
  // a name without legal forms allocates no `Matcher`.
  private[text] val LegalFormsOrdered: Seq[(String, Pattern, String)] =
    LegalForms.toSeq.sortBy { case (k, _) => (-k.length, k) }.map {
      case (long, short) =>
        (long, Pattern.compile(s"\\b${Pattern.quote(long)}\\b"), short)
    }

  private[text] def replaceLegalForms(s: String): String = {
    var out = s
    for ((literal, long, short) <- LegalFormsOrdered)
      if (out.contains(literal)) out = long.matcher(out).replaceAll(short)
    out
  }

  /** Legal-entity name fingerprint (`fingerprint_name`,
    * `matching/compat.py:27-41`): lowercase → strip person prefixes →
    * ascii clean → legal-form replace → squash.
    */
  def fingerprintName(original: String): Option[String] =
    cleanNameAscii(removePersonPrefixes(original.toLowerCase)) match {
      case None => None
      case Some(cleaned) =>
        val replaced =
          Spaces.matcher(replaceLegalForms(cleaned)).replaceAll(" ").trim
        if (replaced.isEmpty) None else Some(replaced)
    }

  // ------------------------------------------------------- addresses

  /** Address keyword shortening ("Street" → "st") — the engine's table
    * for the reference's `shorten_address_keywords`
    * (`matching/erun/misc.py:13-17`). Standard postal abbreviations
    * (USPS C1 list + common European street words), folded/lowercase.
    */
  val AddressShorten: Map[String, String] = Map(
    "street" -> "st", "road" -> "rd", "avenue" -> "ave",
    "boulevard" -> "blvd", "drive" -> "dr", "lane" -> "ln",
    "court" -> "ct", "place" -> "pl", "square" -> "sq",
    "highway" -> "hwy", "parkway" -> "pkwy", "terrace" -> "ter",
    "circle" -> "cir", "crescent" -> "cres", "gardens" -> "gdns",
    "building" -> "bldg", "apartment" -> "apt", "suite" -> "ste",
    "floor" -> "fl", "room" -> "rm", "number" -> "no",
    "mount" -> "mt", "saint" -> "st", "fort" -> "ft", "point" -> "pt",
    "north" -> "n", "south" -> "s", "east" -> "e", "west" -> "w",
    // German / Russian / Romance street words
    "strasse" -> "str", "platz" -> "pl", "ulitsa" -> "ul",
    "prospekt" -> "pr", "pereulok" -> "per", "oblast" -> "obl",
    "avenida" -> "av", "calle" -> "c", "carrera" -> "cra",
    "chaussee" -> "ch")

  /** Generic address words carrying no discriminating evidence —
    * dropped entirely before comparison (the reference's
    * `remove_address_keywords`, `compare/addresses.py:13-27`). Includes
    * the shortened forms so either spelling vanishes.
    */
  val AddressRemove: Set[String] = Set(
    "street", "st", "road", "rd", "avenue", "ave", "boulevard", "blvd",
    "drive", "dr", "lane", "ln", "court", "ct", "place", "pl",
    "building", "bldg", "house", "apartment", "apt", "suite", "ste",
    "floor", "fl", "room", "rm", "unit", "block", "district",
    "the", "of", "and", "po", "box", "number", "no",
    "strasse", "str", "ulitsa", "ul", "prospekt", "pr", "pereulok",
    "per", "avenida", "av", "calle", "rua")

  /** Lowercase, fold, strip punctuation — the address normalization
    * entry (`normalize_address(latinize=True)` analogue).
    */
  def normalizeAddress(s: String): Option[String] = cleanNameAscii(s)

  def shortenAddressKeywords(norm: String): String =
    norm.split(' ').filter(_.nonEmpty)
      .map(w => AddressShorten.getOrElse(w, w)).mkString(" ")

  def removeAddressKeywords(norm: String): String =
    norm.split(' ').filter(_.nonEmpty).filterNot(AddressRemove)
      .mkString(" ")

  /** Words of a (cleaned) name, min length filter. */
  def nameWords(name: Option[String], minLength: Int = 1): List[String] =
    name.toList.flatMap(_.split(' ')).filter(_.length >= minLength)

  /** Tokens over all names via fingerprint (`names_word_list`). */
  def namesWordList(names: Seq[String], minLength: Int = 1): List[String] =
    names.toList.flatMap(n => nameWords(fingerprintName(n), minLength))

  /** Slugify (normality's `slugify` as the reference uses it for
    * dataset names, `store/__init__.py:32`): fold to ascii, lowercase,
    * collapse non-alphanumerics into the separator, trim.
    */
  def slugify(s: String, sep: String = "-"): Option[String] = {
    val folded = foldAscii(s).flatMap(c =>
      if (c.isLetterOrDigit) c.toString
      else if (c < 128 || c.isWhitespace) sep else "")
    val squashed = folded
      .split(java.util.regex.Pattern.quote(sep)).filter(_.nonEmpty)
      .mkString(sep)
    if (squashed.isEmpty) None else Some(squashed)
  }

  private val NumRe = "\\d+".r

  /** All digit runs across values (`extract_numbers`). */
  def extractNumbers(values: Seq[String]): Set[String] =
    values.flatMap(v => NumRe.findAllIn(v)).toSet

  /** Identifier cleanup: uppercase, strip non-alphanumerics (the
    * generic arm of `StrictFormat.normalize`).
    */
  def cleanIdentifier(s: String): Option[String] = {
    val out = NonAlnum.matcher(s.toUpperCase).replaceAll("")
    if (out.length < 3) None else Some(out)
  }
}
