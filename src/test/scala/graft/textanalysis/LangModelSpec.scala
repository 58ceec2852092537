package graft.textanalysis

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Pins the stupid-backoff arithmetic on a constructed corpus where the
  * train/held-out hash split is solved for explicitly, and sanity
  * invariants on the synthetic corpus.
  */
class LangModelSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def bucketOf(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 4)
    java.lang.Long.parseLong(hex, 16)
  }

  private def e6(p: Double): Long =
    math.floor(math.log(p) * 1e6 + 0.5).toLong

  test("train doc and held-out doc score by the exact backoff formula") {
    val trainId = (1L to 200L).find(bucketOf(_) < LangModel.TrainBuckets).get
    val heldId = (1L to 200L).find(bucketOf(_) >= LangModel.TrainBuckets).get
    val docs = Seq(
      (trainId, "a b a b", "en", "unit", 7L),
      (heldId, "a b c", "en", "unit", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = LangModel.lmScoreOf(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // train LM (train doc only): un(a)=2 un(b)=2 T=4; bc(a,b)=2 bc(b,a)=1
    // train doc "a b a b": ln(.5) + ln(1) + ln(.5) + ln(1), 4 tokens
    val expTrain = BigDecimal(
      (e6(0.5) + e6(1.0) + e6(0.5) + e6(1.0)).toDouble / (4 * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // held-out "a b c": p(a)=2/4, p(b|a)=2/2, p(c|b)=0.4*(0.5/4) (OOV)
    val expHeld = BigDecimal(
      (e6(0.5) + e6(1.0) + e6(0.4 * 0.5 / 4)).toDouble / (3 * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(trainId) === ((4L, expTrain)))
    assert(out(heldId) === ((3L, expHeld)))
  }

  test("top-|V| pruning degrades cut terms to OOV/backoff, exactly") {
    val trainId = (1L to 200L).find(bucketOf(_) < LangModel.TrainBuckets).get
    val heldId = (1L to 200L).find(bucketOf(_) >= LangModel.TrainBuckets).get
    val docs = Seq(
      (trainId, "a b a b", "en", "unit", 7L),
      (heldId, "a b c", "en", "unit", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // a cap above the vocabulary is bit-identical to the default path
    val full = LangModel.lmScoreOf(docs).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val capped = LangModel.lmScoreOf(docs, topV = 100L).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(capped === full)
    // topV=1 keeps only "a" (count tie, term asc): "b" becomes OOV
    // (pseudocount over the FULL token total) and every bigram backs
    // off — the hand-solved stupid-backoff arithmetic
    val out = LangModel.lmScoreOf(docs, topV = 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    def avg(ps: Seq[Double]) = BigDecimal(
      ps.map(e6).sum.toDouble / (ps.size * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val oov = 0.5 / 4
    assert(out(trainId) ===
      ((4L, avg(Seq(0.5, 0.4 * oov, 0.4 * 0.5, 0.4 * oov)))))
    assert(out(heldId) === ((3L, avg(Seq(0.5, 0.4 * oov, 0.4 * oov)))))
  }

  test("per-context bigram cap drops the weakest continuations only") {
    val trainId = (1L to 200L).find(bucketOf(_) < LangModel.TrainBuckets).get
    val heldId = (1L to 200L).find(bucketOf(_) >= LangModel.TrainBuckets).get
    // train "a a a b a b c": un(a)=4 un(b)=2 un(c)=1 T=7; vocab 3 >
    // topV=2 engages pruning (keeps a, b). Kept bigrams (a,a)=2,
    // (a,b)=2, (b,a)=1; with 1 continuation per context, context 'a'
    // keeps (a,a) (count tie, term asc) and drops (a,b) → backoff;
    // context 'b' keeps its only (b,a).
    val docs = Seq(
      (trainId, "a a a b a b c", "en", "unit", 13L),
      (heldId, "a b a", "en", "unit", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def avg(ps: Seq[Double]) = BigDecimal(
      ps.map(e6).sum.toDouble / (ps.size * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val capped = LangModel.lmScoreOf(docs, topV = 2L, bigramsPerContext = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // held "a b a": p(a)=4/7, p(b|a) backs off (capped away) =
    // .4·(2/7), p(a|b) = 1/2 (kept)
    assert(capped(heldId) ===
      ((3L, avg(Seq(4 / 7.0, 0.4 * 2 / 7.0, 0.5)))))
    // same pruned vocabulary without the context cap: (a,b) scores 2/4
    val uncapped = LangModel.lmScoreOf(docs, topV = 2L,
      bigramsPerContext = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(uncapped(heldId) === ((3L, avg(Seq(4 / 7.0, 2 / 4.0, 0.5)))))
  }

  test("train caps its collects by construction, either side of the cap") {
    // vocab 3 ("a a a b a b c": un a=4 b=2 c=1, T=7) — under a topV=100
    // cap nothing is pruned and the model is the full count table
    val docs = Seq((1L, "a a a b a b c", "en", "unit", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = LangModel.train(docs)
    assert(full.uni === Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    assert(full.bi === Map(("a", "a") -> 2L, ("a", "b") -> 2L,
      ("b", "a") -> 1L, ("b", "c") -> 1L))
    assert(full.total === 7L)
    // topV=2, 1 continuation/context: tables are ≤2 and ≤2·1 rows BY
    // CONSTRUCTION; "c" degrades to OOV, (a,b) is capped away, and
    // total stays the FULL pre-cap token count
    val capped = LangModel.train(docs, topV = 2L, bigramsPerContext = 1)
    assert(capped.uni === Map("a" -> 4L, "b" -> 2L))
    assert(capped.bi === Map(("a", "a") -> 2L, ("b", "a") -> 1L))
    assert(capped.total === 7L)
    // the capped model scores a held-out doc exactly like the capped
    // batch scorer's hand-solved arithmetic (see the window-cap test)
    def avg(ps: Seq[Double]) = BigDecimal(
      ps.map(e6).sum.toDouble / (ps.size * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(capped.avgLogp(Seq("a", "b", "a")) ===
      Some(avg(Seq(4 / 7.0, 0.4 * 2 / 7.0, 0.5))))
  }

  test("model scorer equals the relational scorer row for row") {
    val trainIds = (1L to 400L).filter(bucketOf(_) < LangModel.TrainBuckets)
    val heldIds = (1L to 400L).filter(bucketOf(_) >= LangModel.TrainBuckets)
    // texts over a 6-word vocabulary, so a topV of 2 prunes and 100
    // does not; one-word and token-less documents included
    val text = Gen.oneOf(
      Gen.listOfN(1, Gen.oneOf("a", "b", "c", "d", "e", "f")),
      Gen.choose(0, 9).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "a", "b", "c", "d", "e", "f", "B!"))))
      .map(_.mkString(" "))
    def corpus(ids: Seq[Long]): Gen[Seq[(Long, String)]] = for {
      n <- Gen.choose(4, 14)
      picked <- Gen.pick(n, ids)
      texts <- Gen.listOfN(n, text)
    } yield picked.toSeq.zip(texts)
    val docsGen =
      Gen.zip(corpus(trainIds), corpus(heldIds)).map(p => p._1 ++ p._2)
    // every (topV, per-context cap) pairing, each on its own corpus
    val cases = for (topV <- Seq(2L, 100L); perContext <- Seq(1, 64))
      yield (topV, perContext)
    for (((topV, perContext), seed) <- cases.zipWithIndex) {
      val docs = docsGen(Gen.Parameters.default, Seed(seed + 1L)).get
      val df = docs.toDF("doc_id", "text")
      val got = LmReference.rowsOf(LangModel.lmScoreOf(df, topV, perContext))
      assert(got === LmReference.scores(df, topV, perContext),
        s"seed $seed, topV $topV, per context $perContext: $docs")
      assert(got.map(_._1) === docs.filter(_._2.exists(_.isLetter))
        .map(_._1).toSet)
    }
    // an empty train slice: word counts still, every score NULL
    val held = heldIds.take(3).zip(Seq("a b a", "c", "d e"))
      .toDF("doc_id", "text")
    val empty = LmReference.rowsOf(LangModel.lmScoreOf(held))
    assert(empty === Set((heldIds(0), 3L, None), (heldIds(1), 1L, None),
      (heldIds(2), 2L, None)))
    assert(empty === LmReference.scores(held))
  }

  test("corpus invariants at sf0.001") {
    val out = LangModel.lmScoreQ(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    // log-probs are never positive (every probability is <= 1)
    assert(rows.forall(_.getDouble(2) <= 0.0))
    // token counts agree with the shared tokenizer
    val toks = TextAnalysis.withWords(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), size(col("w")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => toks(r.getLong(0)) === r.getLong(1)))
  }
}
