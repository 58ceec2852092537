package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** The full FtM ontology loaded from the bundled resource: graph
  * integrity, can_match parity with the published
  * `Schema.matchable_schemata` semantics (both matchable + related by
  * descent — `nomenklatura/matching/util.py:22-31` consumes it via
  * `model.common_schema` / `is_a`; `xref.py:105` gates pairs on it),
  * and the invariants the donations/wikidata suites rely on.
  */
class FtmSpec extends AnyFunSuite {

  test("the model carries the full published surface, not a subset") {
    // exact census: the 74 schemata of the published followthemoney
    // model the reference targets. Every schema name the reference
    // code/fixtures reference resolves here (verified by repo-wide
    // census, round 8); a model bump that adds schemata should raise
    // this count in the same commit as the resource.
    assert(Ftm.schemata.size === 74)
    // round-7 tail additions are present
    for (n <- Seq("Trip", "Assessment", "Program", "Post", "Taxation",
      "Court", "CallForProposals", "Value"))
      assert(Ftm.schemata.contains(n), s"missing tail schema $n")
    // every extends edge resolves inside the model
    for ((n, s) <- Ftm.schemata; p <- s.isA)
      assert(Ftm.schemata.contains(p), s"$n extends unknown $p")
    // abstract schemata are never matchable
    for ((n, s) <- Ftm.schemata if s.isAbstract)
      assert(!s.matchable, s"$n abstract but matchable")
  }

  test("multiple inheritance resolves through the whole graph") {
    assert(Ftm.ancestors("Email") === Set("Email", "Folder", "PlainText",
      "HyperText", "Document", "Thing", "Analyzable"))
    assert(Ftm.ancestors("Passport")
      === Set("Passport", "Identification", "Interval"))
    assert(Ftm.ancestors("Company")
      === Set("Company", "Organization", "LegalEntity", "Asset", "Thing"))
    assert(Ftm.ancestors("Vessel")
      === Set("Vessel", "Vehicle", "Asset", "Thing"))
    // inherited property resolution crosses every parent branch
    assert(Ftm.propType("Company", "registrationNumber")
      === Some(Ftm.T.Identifier))
    assert(Ftm.propType("Company", "amount") === Some(Ftm.T.Number))
    assert(Ftm.propType("Email", "contentHash") === Some(Ftm.T.Checksum))
  }

  test("can_match parity on sampled schema pairs") {
    val cases = Seq(
      // same-branch matchables
      ("Person", "LegalEntity") -> true,
      ("Person", "Person") -> true,
      ("Company", "Organization") -> true,
      ("Company", "LegalEntity") -> true,
      ("Organization", "PublicBody") -> true,
      ("Security", "Security") -> true,
      ("Address", "Address") -> true,
      // matchable but sibling branches — never comparable
      ("Person", "Company") -> false,
      ("Person", "Organization") -> false,
      ("Vessel", "Airplane") -> false,
      ("BankAccount", "LegalEntity") -> false,
      ("CryptoWallet", "Security") -> false,
      // non-matchable partner kills the pair even when related
      ("Vessel", "Vehicle") -> false,
      ("Sanction", "Sanction") -> false,
      ("Payment", "Payment") -> false,
      // round-7 tail schemata
      ("Court", "PublicBody") -> true,
      ("Court", "Organization") -> true,
      ("Court", "Person") -> false,
      ("Trip", "Trip") -> false,
      ("Program", "Sanction") -> false,
      ("Assessment", "Taxation") -> false)
    for (((a, b), want) <- cases) {
      assert(Ftm.canMatch(a, b) === want, s"can_match($a, $b)")
      assert(Ftm.canMatch(b, a) === want, s"can_match($b, $a) symmetry")
    }
  }

  test("the matchable set matches the published model") {
    val matchable = Ftm.schemata.keys.filter(Ftm.isMatchable).toSet
    assert(matchable === Set("LegalEntity", "Person", "Organization",
      "Company", "PublicBody", "Vessel", "Airplane", "Security",
      "CryptoWallet", "BankAccount", "Position", "Address", "Court"))
  }

  test("invariants the fixture suites rely on are unchanged") {
    assert(Ftm.captionProps("Payment") === Seq("amountEur"))
    assert(Ftm.captionProps("Address") === Seq("full"))
    assert(Ftm.featured("Person") === Seq("name", "nationality",
      "birthDate"))
    assert(!Ftm.featured.contains("Thing"))
    assert(Ftm.nameTypeTag("Company") === Ftm.ORG)
    assert(Ftm.nameTypeTag("Person") === Ftm.PER)
    assert(Ftm.nameTypeTag("Vessel") === Ftm.OBJ)
    assert(Ftm.nameTypeTag("Sanction") === Ftm.UNK)
    assert(Ftm.commonSchema(Seq("Person", "LegalEntity")) === "Person")
    // Payment props keep their per-prop matchable flags
    assert(!Ftm.propsOf("Payment")("purpose").matchable)
    assert(Ftm.propsOf("Person")("birthDate").matchable)
  }
}
