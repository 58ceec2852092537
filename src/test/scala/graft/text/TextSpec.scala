package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Unit + property tests for the pure-text library the comparators and
  * tokenizer share. Property checks sample scalacheck generators
  * directly (the scalatest-scalacheck bridge isn't on the offline
  * classpath).
  */
class TextSpec extends AnyFunSuite {

  private def forAll(g: Gen[String])(f: String => Unit): Unit =
    (1 to 200).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private def forAll(g1: Gen[String], g2: Gen[String])
      (f: (String, String) => Unit): Unit =
    (1 to 200).foreach { i =>
      for {
        a <- g1.apply(Gen.Parameters.default, Seed(i.toLong))
        b <- g2.apply(Gen.Parameters.default, Seed(i.toLong + 10000))
      } f(a, b)
    }

  // ----------------------------------------------------------- phonetics

  test("soundex matches the classic published examples") {
    assert(Phonetics.soundex("Robert") === "R163")
    assert(Phonetics.soundex("Rupert") === "R163")
    assert(Phonetics.soundex("Ashcraft") === "A261") // H/W transparency
    assert(Phonetics.soundex("Ashcroft") === "A261")
    assert(Phonetics.soundex("Tymczak") === "T522")
    assert(Phonetics.soundex("Pfister") === "P236")
    assert(Phonetics.soundex("Honeyman") === "H555")
  }

  test("soundex token falls back to uppercase for non-alpha") {
    assert(Phonetics.soundexToken("123") === "123")
    assert(Phonetics.soundexToken("a") === "A")
    assert(Phonetics.soundexToken("miller") === "M460")
  }

  test("metaphone basics") {
    assert(Phonetics.metaphone("Thompson") === "0MPSN") // TH → theta '0'
    assert(Phonetics.metaphone("Smith") === Phonetics.metaphone("Smyth"))
    assert(Phonetics.metaphone("Knight").startsWith("N"))
    assert(Phonetics.metaphone("XYZ").startsWith("S")) // initial X → S
    assert(Phonetics.metaphone("Philip") === Phonetics.metaphone("Filip"))
  }

  test("soundex is stable under case") {
    forAll(Gen.alphaStr) { s: String =>
      assert(Phonetics.soundex(s) === Phonetics.soundex(s.toLowerCase))
    }
  }

  // ------------------------------------------------------ edit distance

  test("damerau-levenshtein counts transpositions as one edit") {
    assert(Levenshtein.distance("ab", "ba") === 1)
    assert(Levenshtein.distance("abc", "acb") === 1)
    assert(Levenshtein.distance("kitten", "sitting") === 3)
  }

  test("levenshtein similarity is bounded and capped") {
    assert(Levenshtein.similarity("alpha", "alpha") === 1.0)
    // distance 5 > cap → 0
    assert(Levenshtein.similarity("alpha", "zzzzzzz") === 0.0)
    assert(Levenshtein.similarity("", "x") === 0.0)
  }

  test("distance is a metric (symmetry + identity) on random strings") {
    forAll(Gen.alphaStr, Gen.alphaStr) { (a, b) =>
      assert(Levenshtein.distance(a, b) === Levenshtein.distance(b, a))
      assert(Levenshtein.distance(a, a) === 0)
    }
  }

  test("jaro-winkler known values") {
    assert(JaroWinkler.similarity("martha", "marhta") > 0.95)
    assert(JaroWinkler.similarity("abc", "abc") === 1.0)
    assert(JaroWinkler.similarity("abc", "xyz") === 0.0)
    // simmetrics variant applies prefix bonus even below 0.7
    val a = "vladimir putin"
    val b = "vladimirovka advanced weapons"
    assert(JaroWinkler.simmetrics(a, b) > JaroWinkler.jaro(a, b))
  }

  test("jaro-winkler bounds hold on random strings") {
    forAll(Gen.alphaStr, Gen.alphaStr) { (a, b) =>
      val s = JaroWinkler.similarity(a, b)
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  // -------------------------------------------------------------- names

  test("fingerprint folds case, accents, prefixes and legal forms") {
    assert(TextNorm.fingerprintName("Tchibo Holding AG") ===
      Some("tchibo holding ag"))
    assert(TextNorm.fingerprintName("Frau Johanna Quandt") ===
      Some("johanna quandt"))
    assert(TextNorm.fingerprintName("Müller Limited") === Some("muller ltd"))
    assert(TextNorm.fingerprintName("  ") === None)
  }

  test("cyrillic names romanize and then match cross-script") {
    assert(TextNorm.foldAscii("Путин") === "putin")
    assert(TextNorm.cleanNameAscii("Владимир ПУТИН") ===
      Some("vladimir putin"))
    assert(TextNorm.foldAscii("Хрущёв") === "khrushchev")
  }

  test("identifier cleanup") {
    assert(TextNorm.cleanIdentifier("de-123 456") === Some("DE123456"))
    assert(TextNorm.cleanIdentifier("x") === None)
  }

  test("number extraction") {
    assert(TextNorm.extractNumbers(Seq("Schillerstraße 19, 76135")) ===
      Set("19", "76135"))
  }

  test("multi-word legal forms win over their embedded short forms") {
    // regression: unordered replacement let "limited" fire first and
    // destroy "limited liability company" before "llc" could match
    assert(TextNorm.fingerprintName("Acme Limited Liability Company") ===
      Some("acme llc"))
    assert(TextNorm.fingerprintName("Gazprom Open Joint Stock Company") ===
      Some("gazprom ojsc"))
    assert(TextNorm.fingerprintName("Acme Limited") === Some("acme ltd"))
  }

  // The per-call regex forms TextNorm used before it precompiled its
  // patterns; the properties below hold the precompiled ones to them.
  private val OldApostrophes = Set('\'', '’', '‘', 'ʻ', 'ʼ', '`', '´')

  private def oldCleanLight(s: String): Option[String] = {
    val out = s.toLowerCase.filterNot(OldApostrophes).map(c =>
      if (c.isLetterOrDigit) c else ' ').replaceAll("\\s+", " ").trim
    if (out.isEmpty) None else Some(out)
  }

  private def oldFingerprint(original: String): Option[String] =
    oldCleanLight(TextNorm.foldAscii(
      TextNorm.removePersonPrefixes(original.toLowerCase))).flatMap { cleaned =>
      val forms = TextNorm.LegalForms.toSeq.sortBy { case (k, _) => (-k.length, k) }
      val replaced = forms.foldLeft(cleaned) { case (out, (long, short)) =>
        out.replaceAll(s"\\b${java.util.regex.Pattern.quote(long)}\\b", short)
      }.replaceAll("\\s+", " ").trim
      if (replaced.isEmpty) None else Some(replaced)
    }

  /** A name around legal form `key`: its words in random case and
    * separated by random blanks or punctuation, between a random prefix
    * (person titles, accents, Cyrillic) and suffix.
    */
  private def aroundLegalForm(key: String): Gen[String] = for {
    pre <- Gen.oneOf("", "Mr ", "Dr. ", "Frau ", "Acme ", "Müller ",
      "  Ça ", "Группа ", "O'Neil ", "x")
    words <- Gen.sequence[Seq[String], String](key.split(' ').toSeq.map(w =>
      Gen.oneOf(w, w.toUpperCase, w.capitalize)))
    sep <- Gen.oneOf(" ", "  ", "\t", "-", ", ")
    post <- Gen.oneOf("", " Holdings", ",", " & Co", " (Intl)", "x",
      " limitedx", " e v", "s")
    noise <- Gen.alphaNumStr.map(_.take(6))
  } yield s"$pre${words.mkString(sep)}$post $noise"

  test("fingerprint equals the per-call regex form around every legal form") {
    for (key <- TextNorm.LegalForms.keys.toSeq.sorted)
      forAll(aroundLegalForm(key)) { name =>
        assert(TextNorm.fingerprintName(name) === oldFingerprint(name), name)
        assert(TextNorm.cleanNameLight(name) === oldCleanLight(name), name)
      }
  }

  test("identifier cleanup equals its per-call regex form") {
    val text = Gen.oneOf(Gen.asciiPrintableStr, Gen.alphaNumStr,
      Gen.const("Müller & Söhne -- a.b_c"))
    forAll(text) { s =>
      val id = s.toUpperCase.replaceAll("[^A-Z0-9]", "")
      assert(TextNorm.cleanIdentifier(s) ===
        (if (id.length < 3) None else Some(id)), s)
    }
  }

  test("metaphone dropped-prefix exceptions keep the new initial vowel") {
    assert(Phonetics.metaphone("AEBERHARD") ===
      Phonetics.metaphone("EBERHARD"))
    assert(Phonetics.metaphone("KNIGHT") === Phonetics.metaphone("NIGHT"))
  }

  test("slugify folds, separates and trims") {
    assert(TextNorm.slugify("My Dataset (v2)") === Some("my-dataset-v2"))
    assert(TextNorm.slugify("donations.small", "_") ===
      Some("donations_small"))
    assert(TextNorm.slugify("Müller & Söhne") === Some("muller-sohne"))
    assert(TextNorm.slugify("--- ") === None)
  }

  // -------------------------------------------------------- identifiers

  test("identifier checksum validators accept known-good codes") {
    assert(Identifiers.validLei("529900T8BM49AURSDO55")) // real LEI
    assert(Identifiers.validIsin("US0378331005")) // Apple
    assert(Identifiers.validIsin("DE0005557508")) // Deutsche Telekom
    assert(!Identifiers.validIsin("US0378331006"))
    assert(Identifiers.validInn("7707083893")) // Sberbank
    assert(Identifiers.validOgrn("1027700132195")) // Sberbank OGRN
    assert(!Identifiers.validOgrn("1027700132196"))
    assert(Identifiers.validImo("IMO9074729"))
    assert(!Identifiers.validImo("IMO9074720"))
    assert(Identifiers.validBic("DEUTDEFF"))
    assert(Identifiers.validBic("DEUTDEFF500"))
    assert(!Identifiers.validBic("DEUT"))
    assert(Identifiers.validNpi("1234567893")) // published NPI example
    assert(!Identifiers.validNpi("1234567890"))
    assert(Identifiers.validUei("J7M9HPTGJ1S9"))
    assert(!Identifiers.validUei("O7M9HPTGJ1S9")) // letter O excluded
  }
}
