package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (content-hash groupBy), MinHash + LSH banding,
  * SimHash + hamming banding, n-gram Jaccard verification.
  *
  * Scale design: signatures are computed entirely inside whole-stage
  * codegen (split / transform / aggregate higher-order functions over the
  * text column — no UDF, no shuffle), so the only shuffles are (a) the
  * band-bucket groupBy-join, whose per-bucket fan-out is bounded by
  * [[LshBucketCap]] (see [[dropHotBuckets]] — the blocker's stopword cap
  * and the streaming screen's `NearDupBucketCap`, applied to the batch
  * path), and (b) the final distinct on candidate pairs. Verification
  * joins fetch shingle sets for candidate pairs only — never the full
  * cross product.
  */
object Dedup {

  /** Maximum signatures a (band, key) bucket may hold before it is
    * treated as boilerplate and dropped from candidate generation.
    * Mirrors [[graft.streaming.DocumentStream.NearDupBucketCap]] so the
    * batch and streaming near-dup screens bound skew identically. A
    * boilerplate-heavy corpus can put k near-identical (but not
    * byte-identical, so exact-dedup-first does not collapse them)
    * signatures into one bucket; without the cap that bucket alone
    * emits k²/2 pairs — the skew blow-up the blocker's stopword cost
    * model exists to prevent (`nomenklatura/blocker/index.py:66-71` is
    * the reference's own precedent). Docs in a dropped bucket still
    * pair through their other bands, exactly like the stopword
    * anti-join leaves entities matchable on their rarer tokens.
    */
  val LshBucketCap = 64L

  /** Buckets minus hot keys: drop every (band, key) shared by more
    * than `cap` rows. The hot-key list is tiny by construction
    * (≤ rows/cap keys), so the anti-join broadcasts under AQE — the
    * same shape as the blocker's stopword anti-join.
    */
  def dropHotBuckets(buckets: DataFrame, cap: Long): DataFrame = {
    val hot = buckets.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df")).filter(col("df") > cap)
      .select(col("band"), col("key"))
    buckets.join(hot, Seq("band", "key"), "left_anti")
  }

  /** Lowercased word tokens of a text column. */
  def words(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), w => length(w) > 0)

  /** Distinct word n-gram shingles from an already-materialized words
    * column. `wordsCol` MUST be a plain attribute (not an expression
    * tree): anything non-trivial referenced inside a lambda body is
    * re-evaluated per array element — inlining the word split here made
    * shingling O(words²) per document (measured 30×+ slowdowns).
    */
  def shinglesFromWords(wordsCol: Column, n: Int): Column = {
    val grams = transform(sequence(lit(0), size(wordsCol) - n),
      i => concat_ws(" ",
        (0 until n).map(k => element_at(wordsCol, i + k + 1)): _*))
    // sequence(0, negative) would count DOWN — guard short docs explicitly
    when(size(wordsCol) >= n, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature from an already-hashed shingle column. The md5
    * hashing must be materialized as its own projection (see
    * [[DedupQueries.hashedShinglesOf]]) so it runs once per row (it
    * previously replicated into each of k `array_min(transform(...))`
    * branches — measured 31× slower; those k interpreted passes are
    * now ONE codegen'd pass, [[graft.functions.MinHashSig]]).
    */
  def minhashSigFromHashes(hashedCol: Column, k: Int): Column =
    graft.functions.VectorExpressions.minhashSig(hashedCol, k)

  /** MinHash signature (k universal hashes over 60-bit shingle hashes). */
  def minhashSig(shingleCol: Column, k: Int): Column =
    minhashSigFromHashes(transform(shingleCol, s => Hashing.hash60(s)), k)

  /** Candidate pairs from LSH banding: split the k-signature into
    * `bands` bands of `rowsPerBand`, bucket on (band, key), drop hot
    * buckets over `cap` ([[dropHotBuckets]]), join within the kept
    * buckets, distinct. Returns (a, b) with a < b.
    */
  def lshCandidates(sig: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int, cap: Long = LshBucketCap): DataFrame = {
    val buckets = dropHotBuckets(
      lshBuckets(sig, idCol, bands, rowsPerBand), cap)
    val l = buckets.select(col("band"), col("key"), col(idCol).as("a"))
    val r = buckets.select(col("band"), col("key"), col(idCol).as("b"))
    l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** The per-band (band, key) struct array over a signature column —
    * shared by [[lshBuckets]] and the streaming near-dup screen so
    * batch and stream band identically.
    */
  def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("-", (0 until rowsPerBand).map(r =>
          element_at(sigCol, b * rowsPerBand + r + 1)): _*).as("key"))
    }: _*)

  /** The (id, band, key) bucket rows behind [[lshCandidates]] — exposed
    * so cross-set joins (delta vs. corpus) can reuse the banding without
    * the self-join.
    */
  def lshBuckets(sig: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int): DataFrame =
    sig.select(col(idCol),
      explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))

  /** SimHash signature over word tokens: per (doc, bit) weighted vote,
    * then bits with positive vote set. `bits` ≤ 60 (hash60 entropy).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    // scatter raw docs once (explicit count — AQE-coalesce-exempt):
    // the id partitioning satisfies BOTH aggregates' clustering
    // (subset rule), so the split/explode/votes all run post-shuffle
    // at full parallelism with no further Exchange — previously the
    // tokenize sat on the one-row-group scan task
    val words = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol),
      explode(filter(split(lower(col(textCol)), "[^a-z0-9]+"),
        w => length(w) > 0)).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("whash", Hashing.hash60(col("word")))
    // one aggregation with `bits` map-side-combined vote columns: the
    // previous shape exploded `bits` rows per (doc, word) and paid two
    // more shuffles ((doc, bit) votes, then doc recombine); the vote
    // sums are integers either way, so the signature is identical
    val votes = (0 until bits).map(i =>
      sum(expr(s"cnt * ((shiftright(whash, $i) & 1) * 2 - 1)")).as(s"v$i"))
    words.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Hamming-near pairs via banding of the simhash: two signatures
    * within `maxDist` bits must agree on at least one of `bands`
    * `bandBits`-wide bands when bands > maxDist (pigeonhole). Exact
    * distance checked after the bucket join — so the result is complete
    * for maxDist ≤ bands − 1 among signatures outside hot buckets:
    * buckets over `cap` are dropped first ([[dropHotBuckets]]), the
    * same boilerplate skew guard as the minhash path.
    */
  def simhashPairs(sigs: DataFrame, idCol: String, bands: Int,
      bandBits: Int, maxDist: Int, cap: Long = LshBucketCap): DataFrame =
    // materialize the signatures ONCE, at full parallelism: the sig
    // projection is CPU-heavy (32-way byte sampling / token hashing),
    // usually sits on a one-row-group scan (1 task), and feeds THREE
    // consumers (both self-join legs + the hot-bucket aggregate) —
    // unmaterialized it evaluated three times single-threaded
    // (measured ~0.34 s × 3 at sf0.1). The repartition is exempt from
    // AQE coalescing, so the compute spreads over the session's cores;
    // the pin is corpus-sized (id + one long per doc) and keeps its
    // lineage (recoverable, unlike checkpoint blocks). Callers whose
    // sigs are already a stored table (lake artifacts) use
    // [[simhashPairsFrom]] directly and skip the pin.
    simhashPairsFrom(graft.Caches.pin(sigs
      .repartition(sigs.sparkSession.sparkContext.defaultParallelism,
        col(idCol))), idCol, bands, bandBits, maxDist, cap)

  /** The banding/join core of [[simhashPairs]] over an
    * already-materialized signature table.
    *
    * ONE (band, key) exchange, no self-join: the former dropHotBuckets
    * + equi-join cloned the banding subtree per consumer (AQE never
    * reuses the twin exchanges — three scans/shuffles of the sig
    * table). A window count applies the hot-bucket cap (identical to
    * [[dropHotBuckets]], and ahead of the collect so no bucket list
    * can exceed `cap`), then each bucket emits its a<b pairs in-row —
    * the pair multiset matches the old join's, and the trailing
    * distinct dedups across bands exactly as before.
    */
  def simhashPairsFrom(sigsCk: DataFrame, idCol: String, bands: Int,
      bandBits: Int, maxDist: Int, cap: Long = LshBucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mask = (1L << bandBits) - 1
    val par = sigsCk.sparkSession.sparkContext.defaultParallelism
    val banded = sigsCk.select(col(idCol), col("simhash"),
      explode(array((0 until bands).map(i =>
        struct(lit(i).as("band"),
          expr(s"shiftright(simhash, ${bandBits * i}) & $mask").as("key"))): _*))
        .as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .repartition(par, col("band"), col("key"))
    val capped = banded
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("band"), col("key"))))
      .filter(col("df") <= cap)
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col(idCol).as("id"), col("simhash")))
        .as("ds"))
    val prs = flatten(transform(col("ds"), x =>
      filter(transform(col("ds"), y => struct(
        x.getField("id").as("a"), y.getField("id").as("b"),
        bit_count(x.getField("simhash").bitwiseXOR(y.getField("simhash")))
          .as("hamming"))),
        p => p.getField("a") < p.getField("b"))))
    capped.select(prs.as("prs"))
      .select(explode(col("prs")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        col("p.hamming").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
