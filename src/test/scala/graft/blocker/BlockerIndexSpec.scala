package graft.blocker

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The incrementally-maintained blocker index must be BIT-EQUAL to a
  * from-scratch batch build after every refresh — same longs in the
  * stats, same doubles in the TF weights (shared expression trees make
  * this exact, not approximate). Covers entity updates that remove
  * tokens, updates that remove EVERY token, new entities, n_names
  * changes, a token crossing the stopword cost cap only AFTER an
  * increment, and the forced-compaction path.
  */
class BlockerIndexSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tempDir}
  import spark.implicits._

  private val cfg = Blocker.Config()
  // a cap small enough that increments move tokens across it
  private val tightCfg = Blocker.Config(maxPairCost = 1)

  private def stmts(rows: (String, String, String, String)*): DataFrame =
    rows.toDF("id", "schema", "field", "value")

  private val compat = Seq(("Customer", "Customer"),
    ("Customer", "Supplier"), ("Supplier", "Supplier"), ("Part", "Part"))
    .toDF("ls", "rs")
  private val boosts = Seq(("name", 2.0)).toDF("field", "boost")

  private def tokenize(df: DataFrame): DataFrame = Blocker.entries(df, cfg)

  private def batchTf(corpus: DataFrame,
      c: Blocker.Config): Set[(String, String, String, String, Long)] =
    Blocker.termFrequencies(tokenize(corpus), compat, boosts, c)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), java.lang.Double.doubleToLongBits(r.getDouble(4))))
      .toSet

  private def idxTf(path: String,
      c: Blocker.Config): Set[(String, String, String, String, Long)] =
    BlockerIndex.termFrequencies(spark, path, compat, boosts, c)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), java.lang.Double.doubleToLongBits(r.getDouble(4))))
      .toSet

  private def batchStats(corpus: DataFrame): Set[(String, String, Long,
      Long, String)] =
    Blocker.tokenStats(tokenize(corpus)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet

  private def idxStats(path: String): Set[(String, String, Long, Long,
      String)] =
    BlockerIndex.tokenStats(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet

  private def sliceOf(corpus: DataFrame, ids: Seq[String]): DataFrame =
    corpus.filter($"id".isInCollection(ids))

  test("refreshes reproduce the batch build bit-for-bit") {
    val path = tempDir("blkidx") + "/idx"

    val base = stmts(
      ("a", "Customer", "name", "Alpha Beta"),
      ("b", "Customer", "name", "Beta Gamma"),
      ("c", "Supplier", "name", "Gamma Delta"),
      ("d", "Part", "name", "Delta Epsilon"),
      ("d", "Part", "type", "metal shiny metal"),
      ("f", "Customer", "name", "Omega"))
    BlockerIndex.init(base, path, tokenize, nBuckets = 8)
    assert(idxStats(path) === batchStats(base), "init stats diverge")
    assert(idxTf(path, cfg) === batchTf(base, cfg), "init TF diverges")

    // increment 1: b loses a token (gamma), new entity e arrives,
    // f's only value shrinks below minTokenLen (EVERY token removed)
    val corpus1 = stmts(
      ("a", "Customer", "name", "Alpha Beta"),
      ("b", "Customer", "name", "Beta Zeta"),
      ("c", "Supplier", "name", "Gamma Delta"),
      ("d", "Part", "name", "Delta Epsilon"),
      ("d", "Part", "type", "metal shiny metal"),
      ("e", "Customer", "name", "Zeta Alpha"),
      ("f", "Customer", "name", "x y"))
    BlockerIndex.refresh(spark, path,
      sliceOf(corpus1, Seq("b", "e", "f")), Seq("b", "e", "f"), "g1",
      tokenize)
    assert(idxStats(path) === batchStats(corpus1), "g1 stats diverge")
    assert(idxTf(path, cfg) === batchTf(corpus1, cfg), "g1 TF diverges")
    assert(idxTf(path, tightCfg) === batchTf(corpus1, tightCfg),
      "g1 TF diverges under the tight stopword cap")

    // increment 2: d loses its type statement, a's name becomes
    // repetitive (cnt and n_names change), a THIRD alpha-bearing
    // customer pushes 'alpha' over the tight cost cap
    val corpus2 = stmts(
      ("a", "Customer", "name", "Alpha Alpha Alpha Beta"),
      ("b", "Customer", "name", "Beta Zeta"),
      ("c", "Supplier", "name", "Gamma Delta"),
      ("d", "Part", "name", "Delta Epsilon"),
      ("e", "Customer", "name", "Zeta Alpha"),
      ("f", "Customer", "name", "x y"),
      ("g", "Customer", "name", "Alpha Prime"))
    BlockerIndex.refresh(spark, path,
      sliceOf(corpus2, Seq("a", "d", "g")), Seq("a", "d", "g"), "g2",
      tokenize)
    assert(idxStats(path) === batchStats(corpus2), "g2 stats diverge")
    assert(idxTf(path, cfg) === batchTf(corpus2, cfg), "g2 TF diverges")
    assert(idxTf(path, tightCfg) === batchTf(corpus2, tightCfg),
      "g2 TF diverges under the tight stopword cap (alpha crossed it)")

    // double-applying a committed generation fails loudly
    val e = intercept[IllegalArgumentException](
      BlockerIndex.refresh(spark, path,
        sliceOf(corpus2, Seq("a")), Seq("a"), "g2", tokenize))
    assert(e.getMessage.contains("already committed"))
  }

  test("a refresh racing another refresh: loser fails loudly, retry lands") {
    val path = tempDir("blkidx") + "/idx"
    val base = stmts(
      ("a", "Customer", "name", "Alpha Beta"),
      ("b", "Customer", "name", "Beta Gamma"))
    BlockerIndex.init(base, path, tokenize, nBuckets = 4)
    // the winner renames b and adds c; the loser renames b too, so its
    // retry must retract the WINNER's b tokens, not the base's
    val won = stmts(
      ("a", "Customer", "name", "Alpha Beta"),
      ("b", "Customer", "name", "Beta Omega"),
      ("c", "Customer", "name", "Gamma Delta"))
    val both = stmts(
      ("a", "Customer", "name", "Alpha Beta"),
      ("b", "Customer", "name", "Beta Zeta"),
      ("c", "Customer", "name", "Gamma Delta"))
    def loser(): Unit = BlockerIndex.refresh(spark, path,
      sliceOf(both, Seq("b")), Seq("b"), "gL", tokenize)
    // the loser stages its first commit (the entries-lake append), the
    // winner's whole refresh commits inside the failpoint, and the
    // loser's commit then finds its version taken
    val e = graft.store.Failpoint.race(loser()) {
      BlockerIndex.refresh(spark, path, sliceOf(won, Seq("b", "c")),
        Seq("b", "c"), "gW", tokenize)
    }
    assert(e.getMessage.contains("lost a race"),
      s"loser must fail loudly, got: ${e.getMessage}")
    assert(idxStats(path) === batchStats(won), "race left a hybrid index")
    assert(idxTf(path, cfg) === batchTf(won, cfg))
    loser()
    assert(idxStats(path) === batchStats(both), "retry did not land")
    assert(idxTf(path, cfg) === batchTf(both, cfg))
  }

  test("forced per-refresh compaction preserves equality") {
    val path = tempDir("blkidx") + "/idx"
    val base = stmts(
      ("a", "Customer", "name", "Alpha Beta"),
      ("b", "Customer", "name", "Beta Gamma"))
    BlockerIndex.init(base, path, tokenize, nBuckets = 4)
    val corpus1 = stmts(
      ("a", "Customer", "name", "Alpha Beta"),
      ("b", "Customer", "name", "Beta Gamma"),
      ("c", "Customer", "name", "Gamma Alpha"))
    BlockerIndex.refresh(spark, path, sliceOf(corpus1, Seq("c")),
      Seq("c"), "g1", tokenize, compactEvery = 1)
    val corpus2 = stmts(
      ("a", "Customer", "name", "Alpha Omega"),
      ("b", "Customer", "name", "Beta Gamma"),
      ("c", "Customer", "name", "Gamma Alpha"))
    BlockerIndex.refresh(spark, path, sliceOf(corpus2, Seq("a")),
      Seq("a"), "g2", tokenize, compactEvery = 1)
    assert(idxTf(path, cfg) === batchTf(corpus2, cfg),
      "compacted index TF diverges")
  }
}
