package graft.matching

import org.scalatest.funsuite.AnyFunSuite

import graft.ReferenceFiles

/** Parity of the OFAC emulation against the reference's captured
  * fixtures from the live Sanctions List Search tool
  * (`tests/matching/name_based/ofac_fixtures.csv`, scores 0-100) and
  * the behavioural quirks its unit tests pin down
  * (`tests/matching/name_based/test_ofac.py`).
  */
class OfacParitySpec extends AnyFunSuite {

  lazy val fixture =
    ReferenceFiles("tests/matching/name_based/ofac_fixtures.csv")

  def pv(name: String): EntityView =
    EntityView("x", "Person", Seq(name), Nil, Nil, Nil, Nil, Nil, Nil,
      Nil, Nil)

  private def parseCsv(line: String): Array[String] = {
    // minimal CSV parse: quoted fields may contain commas
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val sb = new StringBuilder
    var inQ = false
    while (i < line.length) {
      val c = line(i)
      if (inQ) {
        if (c == '"') inQ = false else sb += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.toString; sb.clear()
        case _ => sb += c
      }
      i += 1
    }
    out += sb.toString
    out.toArray
  }

  lazy val rows: Seq[(String, String, Int)] = {
    // decode permissively: the capture file has some non-UTF-8 bytes
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixture))
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val text = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    text.linesIterator.drop(1).filter(_.nonEmpty).map(parseCsv)
      .map(a => (a(0), a(1), a(2).toInt)).toList
  }

  test("fixture parity: emulation tracks the captured OFAC scores") {
    val errors = rows.map { case (q, r, expected) =>
      val got = Features.ofacNameScore(pv(q), pv(r)) * 100
      math.abs(got - expected)
    }
    val mae = errors.sum / errors.length
    val within5 = errors.count(_ <= 5.0).toDouble / errors.length
    info(f"rows=${rows.length} MAE=$mae%.2f within5=$within5%.2f")
    // measured: MAE 2.93, 92% within 5 points of the live tool
    assert(mae <= 4.0, f"mean absolute error $mae%.2f exceeds 4 points")
    assert(within5 >= 0.85,
      f"only ${within5 * 100}%.0f%% of fixtures within 5 points")
  }

  test("behavioural quirks from the reference's unit tests") {
    // per-token carries a perfect score past the first-letter gate
    assert(Features.ofacNameScore(pv("VLADIMIR PUTIN"),
      pv("PUTIN, Vladimir")) === 1.0)
    // BUSH<->HASWANI zeroed by the 0.5 floor → mean 0.5
    assert(Features.ofacNameScore(pv("GEORGE BUSH"),
      pv("HASWANI, George")) === 0.5)
    // token-order asymmetry: forward first letters match, reversed don't
    val fwd = Features.ofacNameScore(pv("GEORGE BUSH"),
      pv("GEORGIOU, Georgios"))
    val rev = Features.ofacNameScore(pv("BUSH GEORGE"),
      pv("GEORGIOU, Georgios"))
    assert(fwd >= 0.8 && rev < 0.8)
    // short-token drop: UN removed from the query
    assert(Features.ofacNameScore(pv("KIM JONG UN"),
      pv("KIM, Jong Man")) === 1.0)
  }
}
