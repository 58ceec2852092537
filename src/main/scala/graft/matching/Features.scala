package graft.matching

import graft.model.Ftm
import graft.text.{JaroWinkler, Levenshtein, Phonetics, TextNorm}

/** A per-entity view with everything the comparators need — computed
  * once per entity before the pair join (the Spark replacement for the
  * reference's per-batch `lru_cache` memoization, `matching/util.py:17-19`).
  */
final case class EntityView(
    id: String,
    schema: String,
    names: Seq[String],
    weakAliases: Seq[String],
    lastNames: Seq[String],
    birthDates: Seq[String],
    genders: Seq[String],
    countries: Seq[String],
    identifiers: Seq[String],
    addresses: Seq[String],
    addressEntityIds: Seq[String],
    firstNames: Seq[String] = Nil,
    phones: Seq[String] = Nil,
    emails: Seq[String] = Nil,
    birthPlaces: Seq[String] = Nil,
    isins: Seq[String] = Nil,
    urls: Seq[String] = Nil) {
  def isA(ancestor: String): Boolean = Ftm.ancestors(schema).contains(ancestor)
}

/** The binary form a view travels in through Spark plans: one `binary`
  * column instead of a 17-field struct of string arrays, so no operator
  * between the view builder and the scorers writes or converts the
  * arrays. Layout, big-endian: `id` and `schema` as strings, then the
  * 15 lists in declaration order, each an `int` count followed by its
  * strings; a string is an `int` byte length and its UTF-8 bytes.
  * A null string or list has length or count -1.
  */
object EntityView {
  import java.nio.ByteBuffer
  import java.nio.charset.StandardCharsets.UTF_8

  private def lists(v: EntityView): Seq[Seq[String]] = Seq(v.names,
    v.weakAliases, v.lastNames, v.birthDates, v.genders, v.countries,
    v.identifiers, v.addresses, v.addressEntityIds, v.firstNames, v.phones,
    v.emails, v.birthPlaces, v.isins, v.urls)

  def encode(v: EntityView): Array[Byte] = {
    val ls = lists(v)
    val strs = (Iterator(v.id, v.schema) ++ ls.iterator.filter(_ != null)
      .flatten).map(s => if (s == null) null else s.getBytes(UTF_8)).toArray
    val size = 4 * (strs.length + ls.size) +
      strs.iterator.filter(_ != null).map(_.length).sum
    val b = ByteBuffer.allocate(size)
    var i = 0
    def put(): Unit = {
      val s = strs(i)
      if (s == null) b.putInt(-1) else b.putInt(s.length).put(s)
      i += 1
    }
    put(); put()
    ls.foreach { l =>
      if (l == null) b.putInt(-1)
      else { b.putInt(l.size); l.foreach(_ => put()) }
    }
    b.array()
  }

  def decode(bytes: Array[Byte]): EntityView = {
    val b = ByteBuffer.wrap(bytes)
    def str(): String = b.getInt() match {
      case -1 => null
      case n =>
        val s = new String(bytes, b.position(), n, UTF_8)
        b.position(b.position() + n)
        s
    }
    def list(): Seq[String] = b.getInt() match {
      case -1 => null
      case n => Vector.fill(n)(str())
    }
    val (id, schema) = (str(), str())
    val l = Vector.fill(15)(list())
    EntityView(id, schema, l(0), l(1), l(2), l(3), l(4), l(5), l(6), l(7),
      l(8), l(9), l(10), l(11), l(12), l(13), l(14))
  }
}

/** The pair comparator library (reference `matching/compare/`,
  * `matching/logic_v1/`, `matching/name_based/`): pure functions
  * `(query, result) → score` shared by every algorithm. All scores in
  * [0,1]; 0 = no evidence (FNUL).
  */
object Features {

  type Feature = (EntityView, EntityView) => Double

  private def hasSchema(q: EntityView, r: EntityView, s: String): Boolean =
    q.isA(s) && r.isA(s)

  private def disjoint(a: Iterable[String], b: Iterable[String]): Boolean =
    a.nonEmpty && b.nonEmpty && a.toSet.intersect(b.toSet).isEmpty

  // ------------------------------------------------------------- names

  /** Identical names with light cleanup (`compare/names.py:123-132`). */
  val nameLiteralMatch: Feature = (q, r) => {
    val qn = q.names.flatMap(TextNorm.cleanNameLight).toSet
    val rn = r.names.flatMap(TextNorm.cleanNameLight).toSet
    if (qn.intersect(rn).nonEmpty) 1.0 else 0.0
  }

  private def nameParts(n: String): List[String] =
    TextNorm.nameWords(TextNorm.cleanNameAscii(n))

  /** Greedy best-pair alignment of name parts
    * (`compare/names.py:19-52`): product of pairwise JW for the chosen
    * pairing; 0 unless every query part found a partner and the aligned
    * concatenations stay levenshtein-plausible.
    */
  private def alignNameParts(query0: List[String],
      result0: List[String]): Double = {
    if (query0.isEmpty || result0.isEmpty) return 0.0
    val scores = for {
      qn <- query0.distinct; rn <- result0.distinct
      s = JaroWinkler.similarity(qn, rn)
      if s > 0.0 && Levenshtein.plausible(qn, rn)
    } yield (qn, rn, s)
    var query = query0
    var result = result0
    val length = query0.length
    var total = 1.0
    var pairs = List.empty[(String, String)]
    for ((qn, rn, s) <- scores.sortBy(-_._3)) {
      while (query.contains(qn) && result.contains(rn)) {
        query = remove1(query, qn)
        result = remove1(result, rn)
        total *= s
        pairs = (qn, rn) :: pairs // prepend = weakest-first reversal below
      }
    }
    if (pairs.length < length) return 0.0
    val aligned = pairs // already reversed relative to match order
    val qa = aligned.map(_._1).mkString("")
    val ra = aligned.map(_._2).mkString("")
    if (!Levenshtein.plausible(qa, ra)) 0.0 else total
  }

  /** Remove one occurrence (multiset semantics); shared with
    * [[NameMatchV2]]'s alignment. */
  private[matching] def remove1(xs: List[String], x: String): List[String] = {
    val i = xs.indexOf(x)
    if (i < 0) xs else xs.take(i) ++ xs.drop(i + 1)
  }

  /** Person name Jaro-Winkler with part alignment
    * (`compare/names.py:55-69`).
    */
  val personNameJaroWinkler: Feature = (q, r) => {
    if (!hasSchema(q, r, "Person")) 0.0
    else {
      var score = 0.0
      for (qn <- q.names.map(nameParts); rn <- r.names.map(nameParts)) {
        val qns = qn.mkString("")
        val rns = rn.mkString("")
        if (Levenshtein.plausible(qns, rns))
          score = math.max(score,
            math.pow(JaroWinkler.similarity(qns, rns), qns.length))
        score = math.max(score, alignNameParts(qn, rn))
      }
      score
    }
  }

  /** Fingerprinted-name levenshtein for non-persons
    * (`compare/names.py:72-120`): max of raw similarity, fingerprint
    * similarity, and aligned-token similarity.
    */
  val nameFingerprintLevenshtein: Feature = (q, r) => {
    if (hasSchema(q, r, "Person")) 0.0
    else {
      var best = 0.0
      for (qn <- q.names; rn <- r.names) {
        best = math.max(best, Levenshtein.similarity(qn, rn))
        (TextNorm.fingerprintName(qn), TextNorm.fingerprintName(rn)) match {
          case (Some(qfp), Some(rfp)) =>
            best = math.max(best, Levenshtein.similarity(
              qfp.replace(" ", ""), rfp.replace(" ", "")))
            val qt = TextNorm.nameWords(Some(qfp), 2)
            val rt = TextNorm.nameWords(Some(rfp), 2)
            best = math.max(best, alignedTokensSimilarity(qt, rt))
          case _ =>
        }
      }
      best
    }
  }

  private def alignedTokensSimilarity(qt0: List[String],
      rt0: List[String]): Double = {
    if (qt0.isEmpty || rt0.isEmpty) return 0.0
    val scores = for (a <- qt0.distinct; b <- rt0.distinct)
      yield (a, b, Levenshtein.ratio(a, b))
    var qt = qt0
    var rt = rt0
    var aligned = List.empty[(String, String)]
    for ((a, b, _) <- scores.sortBy(t => (-t._3, t._1, t._2))) {
      while (qt.contains(a) && rt.contains(b)) {
        qt = remove1(qt, a)
        rt = remove1(rt, b)
        aligned = aligned :+ ((a, b))
      }
    }
    if (qt.nonEmpty) 0.0
    else Levenshtein.similarity(aligned.map(_._1).mkString(""),
      aligned.map(_._2).mkString(""))
  }

  /** Different last names (`compare/names.py:135-144`). */
  val lastNameMismatch: Feature = (q, r) => {
    val qv = TextNorm.namesWordList(q.lastNames, 2)
    val rv = TextNorm.namesWordList(r.lastNames, 2)
    if (disjoint(qv, rv)) 1.0 else 0.0
  }

  /** Query name equals a result weak alias (`compare/names.py:147-162`). */
  val weakAliasMatch: Feature = (q, r) => {
    val rn = r.weakAliases.flatMap(TextNorm.cleanNameLight).toSet
    if (rn.isEmpty) 0.0
    else {
      val qn = q.names.flatMap(TextNorm.cleanNameLight).toSet
      if (qn.intersect(rn).nonEmpty) 1.0 else 0.0
    }
  }

  // ---------------------------------------------------------- phonetics

  private def phoneticPlausible(qTok: String, rTok: String): Boolean = {
    val qm = Phonetics.metaphone(TextNorm.foldAscii(qTok))
    val rm = Phonetics.metaphone(TextNorm.foldAscii(rTok))
    if (qm.length >= 3 && rm.length >= 3 && qm == rm)
      Levenshtein.plausible(TextNorm.foldAscii(qTok), TextNorm.foldAscii(rTok))
    else qTok == rTok
  }

  /** Person names match phonetically (`logic_v1/phonetic.py:87-107`):
    * max over name pairs of matched-part fraction.
    */
  val personNamePhoneticMatch: Feature = (q, r) => {
    if (!hasSchema(q, r, "Person")) 0.0
    else {
      var score = 0.0
      val qNames = q.names.map(n => TextNorm.nameWords(
        TextNorm.cleanNameLight(n), 2))
      val rNames = r.names.map(n => TextNorm.nameWords(
        TextNorm.cleanNameLight(n), 2))
      for (qn <- qNames if qn.nonEmpty; rn <- rNames) {
        var remaining = rn
        var matched = 0
        for (part <- qn) {
          remaining.find(o => phoneticPlausible(part, o)).foreach { hit =>
            remaining = remove1(remaining, hit)
            matched += 1
          }
        }
        score = math.max(score, matched.toDouble / qn.length)
      }
      score
    }
  }

  private def tokenNamesCompare(qs: Seq[List[String]],
      rs: Seq[List[String]]): Double = {
    var score = 0.0
    for (q <- qs; r <- rs) {
      val length = math.max(2.0, q.length.toDouble)
      score = math.max(score, multisetIntersect(q, r) / length)
    }
    score
  }

  private def multisetIntersect(a: List[String], b: List[String]): Int = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    b.foreach(x => counts(x) = counts.getOrElse(x, 0) + 1)
    a.count { x =>
      val c = counts.getOrElse(x, 0)
      if (c > 0) { counts(x) = c - 1; true } else false
    }
  }

  private def phoneticTokens(name: String, enc: String => String): List[String] =
    TextNorm.nameWords(TextNorm.fingerprintName(name), 2).map(enc)

  /** Metaphone token overlap (`logic_v1/phonetic.py:117-123`). */
  val nameMetaphoneMatch: Feature = (q, r) =>
    tokenNamesCompare(
      q.names.map(phoneticTokens(_, Phonetics.metaphoneToken)),
      r.names.map(phoneticTokens(_, Phonetics.metaphoneToken)))

  /** Soundex token overlap (`logic_v1/phonetic.py:133-139`). */
  val nameSoundexMatch: Feature = (q, r) =>
    tokenNamesCompare(
      q.names.map(phoneticTokens(_, Phonetics.soundexToken)),
      r.names.map(phoneticTokens(_, Phonetics.soundexToken)))

  // --------------------------------------------------- dates / misc

  private def prefixes(vs: Seq[String], n: Int): Set[String] =
    vs.filter(_.length >= n).map(_.take(n)).toSet

  private def flipDayMonth(v: String): String = v.split("-", 3) match {
    case Array(y, m, d) => s"$y-$d-$m"
    case _ => v
  }

  /** Birth days differ → 1; flipped day/month → 0.5
    * (`compare/dates.py:49-76`).
    */
  val dobDayDisjoint: Feature = (q, r) => {
    if (q.birthDates.isEmpty || r.birthDates.isEmpty) 0.0
    else {
      val qd = prefixes(q.birthDates, 10)
      val rd = prefixes(r.birthDates, 10)
      if (qd.isEmpty || rd.isEmpty) 0.0
      else if (qd.intersect(rd).nonEmpty) 0.0
      else if (qd.map(flipDayMonth).intersect(rd).nonEmpty) 0.5
      else 1.0
    }
  }

  /** Birth years differ → 1 (`compare/dates.py:79-101`). */
  val dobYearDisjoint: Feature = (q, r) => {
    val qy = prefixes(q.birthDates, 4)
    val ry = prefixes(r.birthDates, 4)
    if (qy.isEmpty || ry.isEmpty) 0.0
    else if (qy.intersect(ry).nonEmpty) 0.0
    else 1.0
  }

  /** Countries disjoint under territory containment
    * (`compare/countries.py:9-14`): "ua-cri" does not mismatch "ua",
    * "hk" does not mismatch "cn", "suhh" covers its successor states —
    * [[graft.text.Territories]].
    */
  val countryMismatch: Feature = (q, r) =>
    if (q.countries.isEmpty || r.countries.isEmpty) 0.0
    else if (graft.text.Territories.intersect(q.countries, r.countries)) 0.0
    else 1.0

  /** Genders disjoint (`compare/gender.py:8-15`). */
  val genderMismatch: Feature = (q, r) =>
    if (disjoint(q.genders, r.genders)) 1.0 else 0.0

  /** Number sets extracted from names (or addresses for Address pairs)
    * disagree (`logic_v1/multi.py:9-23`): mismatch fraction.
    */
  val numbersMismatch: Feature = (q, r) => {
    val (qv, rv) =
      if (hasSchema(q, r, "Address")) (q.addresses, r.addresses)
      else (q.names, r.names)
    val qn = TextNorm.extractNumbers(qv)
    val rn = TextNorm.extractNumbers(rv)
    val base = math.min(qn.size, rn.size)
    qn.diff(rn).size.toDouble / math.max(1, base)
  }

  // ------------------------------------------------------- identifiers

  /** Any shared identifier after normalization
    * (`compare/identifiers.py:21-30`).
    */
  val identifierMatch: Feature = (q, r) => {
    val qi = q.identifiers.flatMap(TextNorm.cleanIdentifier).toSet
    val ri = r.identifiers.flatMap(TextNorm.cleanIdentifier).toSet
    if (qi.intersect(ri).nonEmpty) 1.0 else 0.0
  }

  /** Organizations with disjoint registration ids, with levenshtein
    * tolerance 0.7 (`name_based/misc.py:62-90`).
    */
  val orgidDisjoint: Feature = (q, r) => {
    if (!hasSchema(q, r, "Organization")) 0.0
    else {
      val qi = q.identifiers.flatMap(TextNorm.cleanIdentifier).toSet
      val ri = r.identifiers.flatMap(TextNorm.cleanIdentifier).toSet
      if (qi.isEmpty || ri.isEmpty) 0.0
      else if (qi.intersect(ri).nonEmpty) 0.0
      else {
        val best = (for (a <- qi; b <- ri) yield Levenshtein.ratio(a, b))
          .filter(_ > 0.7).maxOption.getOrElse(0.0)
        1.0 - best
      }
    }
  }

  private def matchFormat(q: EntityView, r: EntityView,
      valid: String => Boolean): Double = {
    val qi = q.identifiers.flatMap(TextNorm.cleanIdentifier).filter(valid).toSet
    val ri = r.identifiers.flatMap(TextNorm.cleanIdentifier).filter(valid).toSet
    if (qi.intersect(ri).nonEmpty) 1.0 else 0.0
  }

  /** Format-gated identifier features (`logic_v1/identifiers.py:45-77`),
    * using the public checksum algorithms in [[graft.text.Identifiers]].
    */
  val leiCodeMatch: Feature = (q, r) =>
    matchFormat(q, r, graft.text.Identifiers.validLei)
  val isinSecurityMatch: Feature = (q, r) =>
    matchFormat(q, r, graft.text.Identifiers.validIsin)
  val ogrnCodeMatch: Feature = (q, r) =>
    matchFormat(q, r, graft.text.Identifiers.validOgrn)
  val innCodeMatch: Feature = (q, r) =>
    matchFormat(q, r, graft.text.Identifiers.validInn)
  val bicCodeMatch: Feature = (q, r) =>
    matchFormat(q, r, graft.text.Identifiers.validBic)
  val vesselImoMmsiMatch: Feature = (q, r) =>
    matchFormat(q, r, graft.text.Identifiers.validImo)
  val ueiCodeMatch: Feature = (q, r) =>
    matchFormat(q, r, graft.text.Identifiers.validUei)
  val npiCodeMatch: Feature = (q, r) =>
    matchFormat(q, r, graft.text.Identifiers.validNpi)

  /** Same crypto wallet key, CryptoWallet-gated
    * (`compare/identifiers.py:10-18`).
    */
  val cryptoWalletAddress: Feature = (q, r) =>
    if (!hasSchema(q, r, "CryptoWallet")) 0.0
    else if (q.identifiers.toSet.intersect(r.identifiers.toSet).nonEmpty) 1.0
    else 0.0

  // --------------------------------------------------------- addresses

  /** The reference's `_address_match` composite
    * (`compare/addresses.py:25-57`): normalize, drop generic address
    * keywords, then per value pair — full token-subset ⇒ 1.0, else
    * blend exact-overlap credit with a sorted-residual levenshtein:
    * (|overlap| + remLen·lev) / (remLen + |overlap|).
    */
  private def addressComposite(qa0: Seq[String], ra0: Seq[String]): Double = {
    def norm(vs: Seq[String]): Seq[Set[String]] = vs
      .flatMap(TextNorm.normalizeAddress)
      .map(TextNorm.removeAddressKeywords)
      .map(_.split(' ').filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val qn = norm(qa0)
    val rn = norm(ra0)
    var best = 0.0
    for (qt <- qn; rt <- rn if best < 1.0) {
      val overlap = qt.intersect(rt)
      if (overlap.size == qt.size || overlap.size == rt.size) best = 1.0
      else {
        val qRem = (qt -- overlap).toSeq.sorted
        val rRem = (rt -- overlap).toSeq.sorted
        val qs = qRem.mkString(" ")
        val rs = rRem.mkString(" ")
        val lev = Levenshtein.similarity(qs, rs,
          maxEdits = math.max(qs.length, rs.length))
        val remLen = math.max(qRem.size, rRem.size)
        best = math.max(best,
          (overlap.size + remLen * lev) / (remLen + overlap.size).toDouble)
      }
    }
    best
  }

  /** Address-entity similarity, gated to Address-schema pairs — the
    * fuzzy composite only applies when both sides ARE addresses
    * (`compare/addresses.py:62-66` `has_schema(query, result, "Address")`).
    */
  val addressEntityMatch: Feature = (q, r) =>
    if (!hasSchema(q, r, "Address")) 0.0
    else addressComposite(q.addresses, r.addresses)

  /** Stated-address similarity, exclusively for non-Address pairs —
    * mutual exclusion with addressEntityMatch
    * (`compare/addresses.py:69-73` `address_prop_match`).
    */
  val addressPropMatch: Feature = (q, r) =>
    if (hasSchema(q, r, "Address")) 0.0
    else addressComposite(q.addresses, r.addresses)

  // ------------------------------------------------- name_based family

  /** Mean best-JW across query name parts, 0.5 floor per pair
    * (`name_based/names.py:35-59`).
    */
  val jaroNameParts: Feature = (q, r) => {
    val qp = TextNorm.namesWordList(q.names).toSet
    val rp = TextNorm.namesWordList(r.names).toSet
    if (qp.isEmpty) 0.0
    else {
      val sims = qp.toList.map { part =>
        val best = rp.map(o => JaroWinkler.similarity(part, o))
          .filter(_ > 0.5).maxOption.getOrElse(0.0)
        best
      }
      sims.sum / math.max(1.0, sims.length.toDouble)
    }
  }

  /** Soundex-token overlap over min set size (`name_based/names.py:21-32`). */
  val soundexNameParts: Feature = (q, r) => {
    val qs = TextNorm.namesWordList(q.names).map(Phonetics.soundexToken).toSet
    val rs = TextNorm.namesWordList(r.names).map(Phonetics.soundexToken).toSet
    val overlap = qs.intersect(rs)
    if (overlap.isEmpty) 0.0
    else overlap.size.toDouble / math.max(1.0, math.min(qs.size, rs.size))
  }

  // --------------------------------------------- er-unstable variants

  private def cleanNames(v: EntityView): Set[String] =
    v.names.flatMap(TextNorm.cleanNameAscii).toSet

  private def sortedPartNames(v: EntityView): Set[String] =
    v.names.flatMap(n => TextNorm.cleanNameAscii(n).map(c =>
      c.split(' ').sorted.mkString(" "))).toSet

  private def compareLev(a: String, b: String): Double = {
    val base = math.max(1, math.max(a.length, b.length))
    1.0 - Levenshtein.distance(a, b).toDouble / base
  }

  private def maxInSets(a: Set[String], b: Set[String],
      f: (String, String) => Double): Double =
    (for (x <- a.iterator; y <- b.iterator) yield f(x, y))
      .maxOption.getOrElse(0.0)

  /** Best edit-distance fraction between any two names, including
    * sorted-part forms, Person gate (`erun/names.py:25-39`).
    */
  val personNameLevenshtein: Feature = (q, r) =>
    if (!hasSchema(q, r, "Person")) 0.0
    else maxInSets(cleanNames(q) ++ sortedPartNames(q),
      cleanNames(r) ++ sortedPartNames(r), compareLev)

  /** Same for organizations, no sorted forms (`erun/names.py:42-56`). */
  val orgNameLevenshtein: Feature = (q, r) =>
    if (!hasSchema(q, r, "Organization")) 0.0
    else maxInSets(cleanNames(q), cleanNames(r), compareLev)

  /** Common-schema-is-exactly-LegalEntity variant
    * (`erun/names.py:59-73`).
    */
  val legalNameLevenshtein: Feature = (q, r) =>
    if (graft.model.Ftm.commonSchema(Seq(q.schema, r.schema)) != "LegalEntity")
      0.0
    else maxInSets(cleanNames(q) ++ sortedPartNames(q),
      cleanNames(r) ++ sortedPartNames(r), compareLev)

  /** Strict squared levenshtein for object names — non-legal-entity
    * schemata only (`erun/names.py:144-159`).
    */
  val objNameLevenshtein: Feature = (q, r) =>
    if (q.isA("LegalEntity") || r.isA("LegalEntity")) 0.0
    else maxInSets(cleanNames(q), cleanNames(r), (a, b) => {
      val maxEdits = math.min(2, math.max(a.length, b.length) / 4)
      val s = Levenshtein.similarity(a, b, maxEdits = maxEdits)
      s * s
    })

  private def nameTokens(v: EntityView): Set[String] =
    TextNorm.namesWordList(v.names).filter(t =>
      t.length > 2 && !graft.blocker.EntityTokenizer.Stopwords.contains(t))
      .toSet

  /** Proportion of identical name words (`erun/names.py:112-123`). */
  val nameTokenOverlap: Feature = (q, r) => {
    if (!hasSchema(q, r, "LegalEntity")) 0.0
    else {
      val lt = nameTokens(q)
      val rt = nameTokens(r)
      lt.intersect(rt).size.toDouble /
        math.max(2.0, math.min(lt.size, rt.size).toDouble)
    }
  }

  /** Different numbers in names are a strong negative
    * (`erun/names.py:126-141`): −1 on disjoint, else common/total.
    */
  val nameNumbers: Feature = (q, r) => {
    val ln = TextNorm.extractNumbers(q.names)
    val rn = TextNorm.extractNumbers(r.names)
    val total = ln.size + rn.size
    if (total == 0) 0.0
    else {
      val common = ln.intersect(rn).size
      if (common == 0 && ln.nonEmpty && rn.nonEmpty) -1.0
      else common.toDouble / total
    }
  }

  /** Family-name overlap → 1, disjoint → −1 (`erun/names.py:87-96`). */
  val familyNameMatch: Feature = (q, r) => {
    if (!hasSchema(q, r, "Person")) 0.0
    else {
      val ln = TextNorm.namesWordList(q.lastNames).filter(_.length > 2).toSet
      val rn = TextNorm.namesWordList(r.lastNames).filter(_.length > 2).toSet
      if (ln.isEmpty || rn.isEmpty) 0.0
      else if (ln.intersect(rn).nonEmpty) 1.0
      else -1.0
    }
  }

  /** Birth day match → 1, flipped day/month → 0.5 (`erun/dob.py:23-36`). */
  val dobMatch: Feature = (q, r) => {
    if (q.birthDates.isEmpty || r.birthDates.isEmpty) 0.0
    else {
      val qd = prefixes(q.birthDates, 10)
      val rd = prefixes(r.birthDates, 10)
      if (qd.intersect(rd).nonEmpty) 1.0
      else if (qd.map(flipDayMonth).intersect(rd).nonEmpty) 0.5
      else 0.0
    }
  }

  /** Birth year match → 1, disjoint → −1, Person gate
    * (`erun/dob.py:39-49`).
    */
  val dobYearMatch: Feature = (q, r) => {
    if (!hasSchema(q, r, "Person")) 0.0
    else {
      val qy = prefixes(q.birthDates, 4)
      val ry = prefixes(r.birthDates, 4)
      if (qy.isEmpty || ry.isEmpty) 0.0
      else if (qy.intersect(ry).nonEmpty) 1.0
      else -1.0
    }
  }

  /** Strong identifiers: checksum-valid codes shared
    * (`erun/identifiers.py:37-55`).
    */
  val strongIdentifierMatch: Feature = (q, r) => {
    import graft.text.Identifiers._
    def strong(v: EntityView): Set[String] =
      v.identifiers.flatMap(TextNorm.cleanIdentifier).filter(i =>
        validLei(i) || validIsin(i) || validInn(i) || validOgrn(i) ||
          validImo(i)).toSet
    if (strong(q).intersect(strong(r)).nonEmpty) 1.0 else 0.0
  }

  /** Weak identifiers: any cleaned overlap (`erun/identifiers.py:58-72`). */
  val weakIdentifierMatch: Feature = identifierMatch

  // -------------------------------------------- regression_v1 variants

  private def fingerprinted(vs: Seq[String]): Set[String] =
    vs.flatMap(TextNorm.fingerprintName).map(_.take(128)).toSet

  /** Best fingerprinted-name edit fraction
    * (`regression_v1/names.py:21-26`).
    */
  val nameLevenshteinR: Feature = (q, r) =>
    maxInSets(fingerprinted(q.names), fingerprinted(r.names), compareLev)

  /** Exact fingerprinted-name overlap (`regression_v1/names.py:41-45`). */
  val nameMatchR: Feature = (q, r) =>
    if (fingerprinted(q.names).intersect(fingerprinted(r.names)).nonEmpty)
      1.0
    else 0.0

  /** Name word overlap over min(2, tokens)
    * (`regression_v1/names.py:48-53`).
    */
  val nameTokenOverlapR: Feature = (q, r) => {
    val lt = TextNorm.namesWordList(q.names).toSet
    val rt = TextNorm.namesWordList(r.names).toSet
    lt.intersect(rt).size.toDouble /
      math.max(2.0, math.min(lt.size, rt.size).toDouble)
  }

  /** Disjoint name numbers → 1 (`regression_v1/names.py:56-59`). */
  val nameNumbersR: Feature = (q, r) =>
    if (disjoint(TextNorm.extractNumbers(q.names),
      TextNorm.extractNumbers(r.names))) 1.0
    else 0.0

  /** First/given name token overlap (`regression_v1/names.py:29-32`). */
  val firstNameMatch: Feature = (q, r) => {
    val lt = TextNorm.namesWordList(q.firstNames).toSet
    val rt = TextNorm.namesWordList(r.firstNames).toSet
    if (lt.nonEmpty && lt.intersect(rt).nonEmpty) 1.0 else 0.0
  }

  /** Family name token overlap → 1 (`regression_v1/names.py:35-38`). */
  val familyNameMatchR: Feature = (q, r) => {
    val lt = TextNorm.namesWordList(q.lastNames).toSet
    val rt = TextNorm.namesWordList(r.lastNames).toSet
    if (lt.nonEmpty && lt.intersect(rt).nonEmpty) 1.0 else 0.0
  }

  /** Address text similarity (`regression_v1/misc.py:18-23`). */
  val addressMatch: Feature = (q, r) =>
    maxInSets(q.addresses.flatMap(TextNorm.cleanNameAscii).toSet,
      r.addresses.flatMap(TextNorm.cleanNameAscii).toSet, compareLev)

  /** Address numbers: common − disjoint, 0 when either side lacks
    * numbers (`regression_v1/misc.py:26-35`).
    */
  val addressNumbers: Feature = (q, r) => {
    val ln = TextNorm.extractNumbers(q.addresses)
    val rn = TextNorm.extractNumbers(r.addresses)
    if (ln.isEmpty || rn.isEmpty) 0.0
    else (ln.intersect(rn).size - ln.diff(rn).size).toDouble
  }

  /** Phone / email overlaps (`regression_v1/misc.py:38-47`). */
  val phoneMatch: Feature = (q, r) =>
    if (q.phones.toSet.intersect(r.phones.toSet).nonEmpty) 1.0 else 0.0
  val emailMatch: Feature = (q, r) =>
    if (q.emails.map(_.toLowerCase).toSet
      .intersect(r.emails.map(_.toLowerCase).toSet).nonEmpty) 1.0
    else 0.0

  /** Birth place token overlap (`regression_v1/misc.py:11-15`). */
  val birthPlace: Feature = (q, r) => {
    val lt = TextNorm.namesWordList(q.birthPlaces).toSet
    val rt = TextNorm.namesWordList(r.birthPlaces).toSet
    lt.intersect(rt).size.toDouble /
      math.max(2.0, math.min(lt.size, rt.size).toDouble)
  }

  // ----------------------------------------- erun comparator family

  /** Normalized address token set (`erun/misc.py:13-27` _norm_place):
    * ascii-normalize, shorten postal keywords, split to tokens.
    */
  private def normPlace(vals: Seq[String]): Set[String] =
    vals.flatMap(TextNorm.normalizeAddress)
      .map(TextNorm.shortenAddressKeywords)
      .flatMap(_.split(' ')).filter(_.nonEmpty).toSet

  /** Same place of birth, overlap over the smaller token set
    * (`erun/misc.py:30-38`).
    */
  val birthPlaceErun: Feature = (q, r) => {
    if (!hasSchema(q, r, "Person")) 0.0
    else {
      val lt = normPlace(q.birthPlaces)
      val rt = normPlace(r.birthPlaces)
      lt.intersect(rt).size.toDouble /
        math.max(1.0, math.min(lt.size, rt.size).toDouble)
    }
  }

  /** Address token overlap over the smaller set (`erun/misc.py:41-52`
    * address_match — token overlap, unlike the levenshtein-based
    * regression_v1 [[addressMatch]]).
    */
  val addressOverlapMatch: Feature = (q, r) => {
    val lt = normPlace(q.addresses)
    val rt = normPlace(r.addresses)
    if (lt.isEmpty || rt.isEmpty) 0.0
    else lt.intersect(rt).size.toDouble /
      math.max(1.0, math.min(lt.size, rt.size).toDouble)
  }

  /** Shared address numbers without rewarding repeats
    * (`erun/misc.py:60-67`).
    */
  val addressNumberOverlap: Feature = (q, r) => {
    val ln = TextNorm.extractNumbers(q.addresses)
    val rn = TextNorm.extractNumbers(r.addresses)
    if (ln.isEmpty || rn.isEmpty) 0.0
    else ln.intersect(rn).size.toDouble / math.min(ln.size, rn.size)
  }

  /** Conflicting address numbers, bounded so address history cannot
    * dominate (`erun/misc.py:70-77`): symmetric difference over union.
    */
  val addressNumberDisagreement: Feature = (q, r) => {
    val ln = TextNorm.extractNumbers(q.addresses)
    val rn = TextNorm.extractNumbers(r.addresses)
    if (ln.isEmpty || rn.isEmpty) 0.0
    else {
      val union = ln.union(rn)
      (union.size - ln.intersect(rn).size).toDouble / union.size
    }
  }

  /** First matching contact channel: phones, then emails, then urls
    * (`erun/misc.py:88-103`).
    */
  val contactMatch: Feature = (q, r) => {
    if (q.phones.toSet.intersect(r.phones.toSet).nonEmpty) 1.0
    else if (q.emails.map(_.toLowerCase).toSet
      .intersect(r.emails.map(_.toLowerCase).toSet).nonEmpty) 1.0
    else if (q.urls.map(_.toLowerCase).toSet
      .intersect(r.urls.map(_.toLowerCase).toSet).nonEmpty) 1.0
    else 0.0
  }

  /** ISIN codes disjoint for Security pairs (`erun/misc.py:106-116`). */
  val securityIsinMismatch: Feature = (q, r) =>
    if (!hasSchema(q, r, "Security")) 0.0
    else if (disjoint(q.isins, r.isins)) 1.0
    else 0.0

  /** Position pairs: countries intersect +1, disjoint −1
    * (`erun/countries.py:7-14`).
    */
  val positionCountryMatch: Feature = (q, r) =>
    if (!hasSchema(q, r, "Position")) 0.0
    else if (q.countries.isEmpty || r.countries.isEmpty) 0.0
    else if (graft.text.Territories.intersect(q.countries, r.countries)) 1.0
    else -1.0

  /** Organization pairs without a shared territory
    * (`erun/countries.py:17-27`: LegalEntity-but-not-Person gate).
    */
  val orgCountryMismatch: Feature = (q, r) =>
    if (!hasSchema(q, r, "LegalEntity") || hasSchema(q, r, "Person")) 0.0
    else if (q.countries.isEmpty || r.countries.isEmpty) 0.0
    else if (graft.text.Territories.intersect(q.countries, r.countries)) 0.0
    else 1.0

  /** Person pairs without a shared territory
    * (`erun/countries.py:30-38`).
    */
  val perCountryMismatch: Feature = (q, r) =>
    if (!hasSchema(q, r, "Person")) 0.0
    else if (q.countries.isEmpty || r.countries.isEmpty) 0.0
    else if (graft.text.Territories.intersect(q.countries, r.countries)) 0.0
    else 1.0

  /** Identifier overlap split by org-ness
    * (`regression_v1/misc.py:50-66`).
    */
  val identifierMatchNonOrg: Feature = (q, r) =>
    if (hasSchema(q, r, "Organization")) 0.0 else identifierMatch(q, r)
  val orgIdentifierMatch: Feature = (q, r) =>
    if (!hasSchema(q, r, "Organization")) 0.0 else identifierMatch(q, r)

  /** dob_matches / dob_year_matches (`compare/dates.py:24-46`). */
  val dobMatches: Feature = dobMatch
  val dobYearMatches: Feature = (q, r) => {
    val qy = prefixes(q.birthDates, 4)
    val ry = prefixes(r.birthDates, 4)
    if (qy.intersect(ry).nonEmpty) 1.0 else 0.0
  }

  // ------------------------------------------------------ OFAC scoring

  private def ofacTokens(name: String): List[String] =
    TextNorm.nameWords(TextNorm.cleanNameAscii(name)).map(_.toUpperCase)

  private def dropShortTokens(tokens: List[String]): List[String] = {
    val kept = tokens.filter(_.length > 2)
    if (kept.nonEmpty) kept else tokens
  }

  private def wholeStringScore(query: String, candidate: String): Double = {
    val qn = ofacTokens(query).mkString(" ")
    val cn = ofacTokens(candidate).mkString(" ")
    if (qn.isEmpty || cn.isEmpty || qn.head != cn.head) 0.0
    else JaroWinkler.simmetrics(qn, cn)
  }

  private def perTokenScore(query: String, candidate: String): Double = {
    val qt = dropShortTokens(ofacTokens(query))
    val ct = ofacTokens(candidate)
    if (qt.isEmpty || ct.isEmpty) 0.0
    else {
      val scores = qt.map { t =>
        val best = ct.map(o => JaroWinkler.simmetrics(t, o))
          .maxOption.getOrElse(0.0)
        if (best >= 0.5) best else 0.0
      }
      scores.sum / scores.length
    }
  }

  /** OFAC Sanctions List Search score emulation
    * (`name_based/ofac.py:150-181`): max of whole-string and per-token
    * techniques over every name pair.
    */
  val ofacNameScore: Feature = (q, r) => {
    var best = 0.0
    for (qn <- q.names; rn <- r.names)
      best = math.max(best,
        math.max(wholeStringScore(qn, rn), perTokenScore(qn, rn)))
    best
  }
}
