package graft.text

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[TextNorm]]'s allocation-lean forms against the forms they
  * replaced, kept here verbatim as the reference: the one-`String`-per-
  * character fold, the legal-form replacement that runs every pattern,
  * and the prefix strip that builds `p + " "` for every prefix. Each
  * must return the same string on random text mixing ASCII, Latin
  * accents, Cyrillic, Han, Khmer and supplementary-plane characters,
  * person prefixes and legal-form phrases.
  */
class TextNormFormsSpec extends AnyFunSuite {

  private object Before {
    def foldAscii(s: String): String = {
      val lower0 = s.toLowerCase
      val lower =
        if (Transliterate.hasHan(lower0)) Transliterate.applyHanNames(lower0)
        else lower0
      val pre =
        if (Transliterate.hasKhmer(lower)) Transliterate.khmerWord(lower)
        else lower
      pre.flatMap(c => if (c < 128) c.toString else TextNorm.foldChar(c))
    }

    def removePersonPrefixes(name: String): String = {
      var out = name
      var changed = true
      while (changed) {
        changed = false
        for (p <- TextNorm.PersonPrefixes) {
          if (out.startsWith(p + " ") || out.startsWith(p + ". ")) {
            out = out.stripPrefix(p).stripPrefix(".").trim
            changed = true
          }
        }
      }
      out
    }

    def replaceLegalForms(s: String): String =
      TextNorm.LegalFormsOrdered.foldLeft(s) {
        case (out, (_, long, short)) => long.matcher(out).replaceAll(short)
      }

    def fingerprintName(original: String): Option[String] =
      TextNorm.cleanNameLight(foldAscii(
        removePersonPrefixes(original.toLowerCase))).flatMap { cleaned =>
        val replaced =
          replaceLegalForms(cleaned).replaceAll("\\s+", " ").trim
        if (replaced.isEmpty) None else Some(replaced)
      }
  }

  private def range(lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).map(cp => new String(Character.toChars(cp)))

  private val latin = Gen.oneOf("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    .map(_.toString))
  private val accents = Gen.oneOf("àáâäåæçéèëíïñóöøúüýÿßšžđłćčăşţąřőÀÉÖÜẞ"
    .map(_.toString))
  private val punct = Gen.oneOf(" ", " ", " ", ".", ". ", "-", "'", "’",
    ",", "\t", "  ")
  private val words = Gen.oneOf((TextNorm.PersonPrefixes ++
    TextNorm.PersonPrefixes.map(_.toUpperCase) ++ TextNorm.LegalForms.keys ++
    TextNorm.LegalForms.values).flatMap(w => Seq(w, w + " ", w + ". ")))
  private val char: Gen[String] = Gen.frequency(
    10 -> latin, 4 -> accents, 6 -> punct, 4 -> words,
    3 -> range(0x0410, 0x044F), // Cyrillic
    3 -> range(0x4E00, 0x9FFF), // Han
    1 -> Gen.oneOf("王李张刘陈杨黄赵周吴北京上海银行".map(_.toString)),
    3 -> range(0x1780, 0x17FF), // Khmer
    2 -> range(0x10000, 0x10FFFF)) // supplementary plane
  private val text: Gen[String] =
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, char)).map(_.mkString)

  private def forAll(f: String => Unit): Unit =
    (1 to 3000).foreach { i =>
      text.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  test("foldAscii equals its per-character form") {
    forAll(s => assert(TextNorm.foldAscii(s) === Before.foldAscii(s), s))
  }

  test("removePersonPrefixes equals its concatenating form") {
    forAll { s =>
      val l = s.toLowerCase
      assert(TextNorm.removePersonPrefixes(l) ===
        Before.removePersonPrefixes(l), l)
    }
    Seq("mr ", "mr. ", "mr.", "mr", "dr. mr smith", "mrs. ms x", "miss")
      .foreach(s => assert(TextNorm.removePersonPrefixes(s) ===
        Before.removePersonPrefixes(s), s))
  }

  test("replaceLegalForms and fingerprintName equal the every-pattern form") {
    forAll { s =>
      val l = s.toLowerCase
      assert(TextNorm.replaceLegalForms(l) === Before.replaceLegalForms(l), l)
      assert(TextNorm.fingerprintName(s) === Before.fingerprintName(s), s)
    }
  }
}
