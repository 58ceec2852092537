package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.multimodal.Multimodal
import graft.resolver.Resolver

/** Cluster-closure election and deterministic sampling semantics —
  * the two dedup-pipeline tails ([[DedupQueries.clustersQ]] /
  * [[DedupQueries.sampleQ]] gate the full paths against oracles; these
  * pin the branchy rules on hand-built fixtures.
  */
class DedupOpsSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  test("cluster election keeps the longest text, min id on ties") {
    // components {1,2,3} and {8,9}; 2 and 3 tie on length
    val pairs = Seq(("1", "2"), ("2", "3"), ("8", "9"))
      .toDF("src", "dst")
    val cc = Resolver.connectedComponents(pairs)
    val len = Seq(("1", 5L), ("2", 9L), ("3", 9L), ("8", 4L), ("9", 2L))
      .toDF("id", "len")
    val out = DedupQueries.elect(cc, len)
      .orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq === Seq(
      ("1", "2", false), ("2", "2", true), ("3", "2", false),
      ("8", "8", true), ("9", "8", false)))
    // generated clusters whose lengths tie often: the one-window
    // election equals the max + fetch-back reference row for row
    val clusters = for {
      sizes <- Gen.listOfN(12, Gen.choose(1, 6))
      lens <- Gen.listOfN(sizes.sum, Gen.choose(3L, 5L))
      seed <- Gen.long
    } yield {
      val ids = new scala.util.Random(seed)
        .shuffle((0 until sizes.sum).map(i => s"d${i * 7 % 101}"))
      val cl = sizes.zipWithIndex.flatMap { case (n, c) => Seq.fill(n)(c) }
      ids.zip(cl).zip(lens).map { case ((id, c), l) => (id, s"c$c", l) }
    }
    for (seed <- 1L to 4L) {
      val rows = clusters(Gen.Parameters.default, Seed(seed)).get
      val cc = rows.map(r => (r._1, r._2)).toDF("id", "cluster")
      val len = rows.map(r => (r._1, r._3)).toDF("id", "len")
      sameRows(s"election, seed $seed", DedupQueries.elect(cc, len),
        Reference.elect(cc, len))
    }
  }

  test("incremental dedup pairs delta docs with the corpus only") {
    import spark.implicits._
    val docs = Seq(
      // base corpus (doc_id % 10 != 7)
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "red orange yellow green blue indigo violet"),
      // delta batch (doc_id % 10 == 7)
      (7L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      (27L, "one two three four five six seven"), // genuinely new
      (37L, "one two three four five six seven") // dup of 27 — but 27
      // is ALSO delta, so the cross-set check must NOT pair them
    ).toDF("doc_id", "text")
    val out = DedupQueries.incrementalOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((7L, 1L, 1.0)))
  }

  test("hash sampling is deterministic and stratum-scoped") {
    val sf = "/root/testdata/sf0.001"
    val once = DedupQueries.sampleQ(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val again = DedupQueries.sampleQ(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // same docs every run — the decision is content-keyed, not RNG
    assert(once === again)
    assert(once.nonEmpty)
    // every sampled lang has a configured rate
    assert(once.map(_._2).subsetOf(DedupQueries.SampleRates.keySet))
    // the de stratum (rate 1.0) survives whole
    val total = graft.Tables.documents(spark, sf)
      .filter(col("lang") === "de").count()
    assert(once.count(_._2 == "de").toLong === total)
  }

  test("leak-free split: a near-dup cluster never straddles splits") {
    val sf = "/root/testdata/sf0.001"
    val split = DedupQueries.splitQ(spark, sf)
    // every document of the corpus gets exactly one assignment
    val total = graft.Tables.documents(spark, sf).count()
    assert(split.count() === total)
    // clustered docs share their cluster's split — zero clusters with
    // more than one distinct split value
    val straddling = DedupQueries.clustersQ(spark, sf)
      .select(col("doc_id"), col("canonical"))
      .join(split, Seq("doc_id"))
      .groupBy(col("canonical"))
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(straddling === 0L)
    // all three splits exist and train dominates
    val bydist = split.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bydist.keySet === Set("train", "val", "test"))
    assert(bydist("train") > bydist("val") + bydist("test"))
  }

  /** Signatures for the cap tests: band 0 (sig slots 1-4) is the hot
    * boilerplate key shared by ALL docs; band 1 (slots 5-8) pairs doc
    * 2i with 2i+1; bands 2-3 are unique per doc. MinhashK = 16,
    * Bands = 4, RowsPerBand = 4 per [[DedupQueries]].
    */
  private def hotBandSigs(n: Int) = {
    val rows = (0 until n).map { i =>
      val sig = Array.fill(4)(7L) ++ Array.fill(4)(1000L + i / 2) ++
        (8 until 16).map(k => 100000L + i * 16L + k)
      (i.toLong, sig.toSeq)
    }
    rows.toDF("doc_id", "sig")
  }

  test("hot LSH bucket is dropped by the cap; rarer bands still pair") {
    val sigs = hotBandSigs(100)
    // uncapped: the hot band alone contributes 100*99/2 pairs
    val uncapped = Dedup.lshCandidates(sigs, "doc_id",
      DedupQueries.Bands, DedupQueries.RowsPerBand, cap = Long.MaxValue)
    assert(uncapped.count() === 100L * 99 / 2)
    // capped (default 64): the boilerplate bucket is gone, the 50
    // neighbour pairs from band 1 (bucket size 2) survive
    val capped = Dedup.lshCandidates(sigs, "doc_id",
      DedupQueries.Bands, DedupQueries.RowsPerBand)
    val got = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (0 until 100 by 2).map(i => (i.toLong, i + 1L)).toSet)
  }

  test("soak: pair volume stays linear when 1k docs share a band key") {
    val sigs = hotBandSigs(1000)
    val n = Dedup.lshCandidates(sigs, "doc_id",
      DedupQueries.Bands, DedupQueries.RowsPerBand).count()
    // linear in docs (one neighbour pair per two docs), not k²/2
    assert(n === 500L)
  }

  test("simhash hot buckets are capped; near pair outside them survives") {
    // 100 byte-identical simhashes: every band bucket holds 100 > cap,
    // so the boilerplate cluster emits nothing; docs 200/201 differ in
    // one bit and pair normally
    val sigs = ((0 until 100).map(i => (i.toLong, 0L)) ++
      Seq((200L, 0x3FFFFFL), (201L, 0x3FFFFEL))).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsFrom(sigs, "doc_id",
      DedupQueries.SimhashBands, DedupQueries.SimhashBandBits,
      DedupQueries.SimhashMaxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((200L, 201L, 1)))
  }

  /** The banding channels as they were before [[Dedup.cappedPairs]]:
    * an anti-join against the keys held by more than `cap` rows, then a
    * self-join on (band, key). Kept as the reference the capped-pair
    * operator must equal row for row.
    */
  private object Reference {
    /** The survivor election as a scalar max plus two fetch-back joins. */
    def elect(cc: DataFrame, len: DataFrame): DataFrame = {
      val wl = cc.join(len, Seq("id"))
      val ml = wl.groupBy(col("cluster")).agg(max(col("len")).as("mlen"))
      val canon = wl.join(ml, Seq("cluster"))
        .filter(col("len") === col("mlen"))
        .groupBy(col("cluster")).agg(min(col("id")).as("canonical"))
      wl.join(canon, Seq("cluster"))
        .select(col("id").as("doc_id"), col("canonical"),
          (col("id") === col("canonical")).as("keep"))
    }

    def dropHotBuckets(buckets: DataFrame, cap: Long): DataFrame = {
      val hot = buckets.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("df")).filter(col("df") > cap)
        .select(col("band"), col("key"))
      buckets.join(hot, Seq("band", "key"), "left_anti")
    }

    def lshCandidates(sig: DataFrame, cap: Long): DataFrame = {
      val buckets = dropHotBuckets(Dedup.lshBuckets(sig, "doc_id",
        DedupQueries.Bands, DedupQueries.RowsPerBand), cap)
      val l = buckets.select(col("band"), col("key"), col("doc_id").as("a"))
      val r = buckets.select(col("band"), col("key"), col("doc_id").as("b"))
      l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
    }

    def simhashPairs(sigs: DataFrame, cap: Long): DataFrame = {
      import DedupQueries.{SimhashBands, SimhashBandBits, SimhashMaxDist}
      val mask = (1L << SimhashBandBits) - 1
      val banded = dropHotBuckets(sigs.select(col("doc_id"), col("simhash"),
          explode(array((0 until SimhashBands).map(i =>
            struct(lit(i).as("band"), expr(
              s"shiftright(simhash, ${SimhashBandBits * i}) & $mask")
              .as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("simhash"), col("bk.band").as("band"),
          col("bk.key").as("key")), cap)
      val l = banded.select(col("band"), col("key"), col("doc_id").as("a"),
        col("simhash").as("sa"))
      val r = banded.select(col("band"), col("key"), col("doc_id").as("b"),
        col("simhash").as("sb"))
      l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= SimhashMaxDist)
    }

    def decodedPhashPairs(sigs: DataFrame, cap: Long): DataFrame = {
      import Multimodal.{AHashBandBits, DecAHashBands, DecAHashMaxDist}
      val mask = (1L << AHashBandBits) - 1
      val banded = dropHotBuckets(sigs.select(col("doc_id"),
          col("ahash_lo"), col("ahash_hi"),
          explode(array((0 until DecAHashBands).map { i =>
            val word = if (i < 4) "ahash_lo" else "ahash_hi"
            struct(lit(i).as("band"), expr(
              s"shiftright($word, ${AHashBandBits * (i % 4)}) & $mask")
              .as("key"))
          }: _*)).as("bk"))
        .select(col("doc_id"), col("ahash_lo"), col("ahash_hi"),
          col("bk.band").as("band"), col("bk.key").as("key")), cap)
      val l = banded.select(col("band"), col("key"), col("doc_id").as("a"),
        col("ahash_lo").as("lo_a"), col("ahash_hi").as("hi_a"))
      val r = banded.select(col("band"), col("key"), col("doc_id").as("b"),
        col("ahash_lo").as("lo_b"), col("ahash_hi").as("hi_b"))
      l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)")
            .as("hamming"))
        .distinct()
        .filter(col("hamming") <= DecAHashMaxDist)
    }
  }

  /** Per-doc keys for eight bands. Each band plants keys held by
    * exactly cap − 1, cap and cap + 1 docs (three keys of random sizes
    * when the cap is unbounded) and up to three
    * single-row keys; every other doc draws one of two pool keys, one
    * bit apart, so most same-bucket pairs also pass the hamming checks.
    * Keys stay under 16, inside every channel's band width.
    */
  private def bucketTable(cap: Long): Gen[Seq[(Long, Seq[Long])]] = {
    val sizes: Gen[Seq[Int]] =
      if (cap == Long.MaxValue) Gen.listOfN(3, Gen.choose(2, 8))
      else Gen.const(Seq(cap - 1, cap, cap + 1).filter(_ > 0).map(_.toInt))
    for {
      planted <- Gen.listOfN(8, sizes)
      singles <- Gen.listOfN(8, Gen.choose(0, 3))
      extra <- Gen.choose(1, 8)
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      val n = planted.zip(singles).map { case (p, k) => p.sum + k }.max + extra
      val ids = rnd.shuffle((0 until n).map(i => i * 31L + 5)).toIndexedSeq
      val keys = Array.ofDim[Long](8, n)
      for (b <- 0 until 8) {
        val fixed = planted(b).zipWithIndex.flatMap { case (sz, g) =>
          Seq.fill(sz)(g.toLong) } ++ (0 until singles(b)).map(8L + _)
        rnd.shuffle((0 until n).toIndexedSeq).zipWithIndex.foreach {
          case (doc, i) =>
            keys(b)(doc) = if (i < fixed.length) fixed(i)
              else 4L + rnd.nextInt(2)
        }
      }
      (0 until n).map(d => (ids(d), (0 until 8).map(b => keys(b)(d))))
    }
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map((r: Row) => r.toSeq)
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** Asserts equal row bags; returns the reference row count. */
  private def sameRows(name: String, got: DataFrame, want: DataFrame)
      : Int = {
    val cols = want.columns.toSeq.map(col)
    val (g, w) = (bag(got.select(cols: _*)), bag(want.select(cols: _*)))
    assert(g === w, s"$name\nonly new: ${g.keySet -- w.keySet}" +
      s"\nonly reference: ${w.keySet -- g.keySet}")
    w.values.sum
  }

  test("capped-pair channels equal the anti-join + self-join reference") {
    def packed(keys: Seq[Long], width: Int, from: Int, to: Int): Long =
      (from until to).map(b => keys(b) << (width * (b - from))).sum
    for (cap <- Seq(1L, 2L, 64L, Long.MaxValue)) {
      val rows = bucketTable(cap)(Gen.Parameters.default, Seed(cap + 13))
        .get
      // LSH: band b is signature slots 4b..4b+3 = (key, 0, 0, 0)
      val lsh = rows.map { case (id, k) =>
        (id, (0 until 4).flatMap(b => Seq(k(b), 0L, 0L, 0L))) }
        .toDF("doc_id", "sig")
      val sim = rows.map { case (id, k) =>
        (id, packed(k, DedupQueries.SimhashBandBits, 0,
          DedupQueries.SimhashBands)) }.toDF("doc_id", "simhash")
      val ph = rows.map { case (id, k) =>
        (id, packed(k, Multimodal.AHashBandBits, 0, 4),
          packed(k, Multimodal.AHashBandBits, 4, 8)) }
        .toDF("doc_id", "ahash_lo", "ahash_hi")
      val n = Seq(
        sameRows(s"lsh, cap $cap", Dedup.lshCandidates(lsh, "doc_id",
          DedupQueries.Bands, DedupQueries.RowsPerBand, cap),
          Reference.lshCandidates(lsh, cap)),
        sameRows(s"simhash, cap $cap", Dedup.simhashPairsFrom(sim, "doc_id",
          DedupQueries.SimhashBands, DedupQueries.SimhashBandBits,
          DedupQueries.SimhashMaxDist, cap), Reference.simhashPairs(sim, cap)),
        sameRows(s"phash, cap $cap", Multimodal.decodedPhashPairs(ph, cap),
          Reference.decodedPhashPairs(ph, cap)))
      // a cap of 1 pairs nothing; a larger cap keeps the planted
      // cap-sized keys, and the big tables also pass the hamming checks
      if (cap > 1) assert(n.head > 0, s"cap $cap: no lsh pair")
      if (cap > 2) assert(n.forall(_ > 0), s"cap $cap: empty channel $n")
    }
  }

  test("exact substring dedup: cross-doc and within-doc spans, exactly") {
    // docs 1/2 share a 12-word block at different offsets; doc 3 is
    // unrelated; doc 4 repeats its own 10-word half verbatim
    val block = (0 until 12).map(i => s"bl$i").mkString(" ")
    val half = (0 until 10).map(i => s"xx$i").mkString(" ")
    val docs = Seq(
      (1L, (0 until 9).map(i => s"pa$i").mkString(" ") + " " + block),
      (2L, block + " " + (0 until 7).map(i => s"sb$i").mkString(" ")),
      (3L, (0 until 30).map(i => s"zz$i").mkString(" ")),
      (4L, half + " " + half))
      .toDF("doc_id", "text")
    val out = DedupQueries.substrOf(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val k = DedupQueries.SubstrK // 8
    // the shared 12-word block holds 12-8+1 = 5 duplicated grams in
    // one run → one span of (4-0)+8 = 12 tokens, in both docs
    val blockGrams = 12L - k + 1
    assert(out(1L) === ((1L, blockGrams, 12L, 0.3571))) // 5/14 grams
    assert(out(2L) === ((1L, blockGrams, 12L, 0.4167))) // 5/12 grams
    assert(!out.contains(3L))
    // "half half": grams 0-2 repeat at 10-12, boundary grams unique →
    // two 3-gram runs of (2-0)+8 = 10 tokens each
    assert(out(4L) === ((2L, 6L, 10L, 0.4615))) // 6/13 grams
  }

  test("clone spans: a shared span is found with a faithful extent") {
    // doc 1 and 2 share a 30-word clone at DIFFERENT offsets, inside
    // unrelated surrounding text; doc 3 is unrelated entirely
    val clone = (0 until 30).map(i => s"cl$i").mkString(" ")
    val docs = Seq(
      (1L, (0 until 10).map(i => s"pa$i").mkString(" ") + " " + clone +
        " " + (0 until 8).map(i => s"sa$i").mkString(" ")),
      (2L, (0 until 4).map(i => s"pb$i").mkString(" ") + " " + clone +
        " " + (0 until 12).map(i => s"sb$i").mkString(" ")),
      (3L, (0 until 40).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    import graft.textanalysis.TextAnalysis
    // hit-level audit: all shared fingerprints lie on the clone's
    // single diagonal (offset 10 − 4 = 6)
    val pos = TextAnalysis.fingerprintPositions(docs)
    val hits = pos.select(col("h"), col("doc_id").as("a"),
        col("gpos").as("pa"))
      .join(pos.select(col("h"), col("doc_id").as("b"),
        col("gpos").as("pb")), Seq("h"))
      .filter(col("a") < col("b"))
      .collect()
    assert(hits.nonEmpty, "the clone must produce shared fingerprints")
    assert(hits.forall(r => r.getLong(2) - r.getLong(4) === 6L))
    // end-to-end through the PRODUCTION operator: one span for (1, 2),
    // nothing involving the unrelated doc 3, faithful extent
    val spans = DedupQueries.spansOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.length === 1)
    val (a, b, nSpans, longest) = spans.head
    assert((a, b) === ((1L, 2L)) && nSpans === 1L)
    val cloneGrams = 30 - TextAnalysis.FpN + 1
    assert(longest <= cloneGrams + TextAnalysis.FpN - 1)
    assert(longest >= cloneGrams - 2 * TextAnalysis.FpWin)
  }
}
