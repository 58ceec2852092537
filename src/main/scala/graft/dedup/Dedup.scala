package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

import graft.functions.Hashing
import graft.functions.TextExpressions.lower

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (content-hash groupBy), MinHash + LSH banding,
  * SimHash + hamming banding, n-gram Jaccard verification.
  *
  * Scale design: signatures are computed entirely inside whole-stage
  * codegen (split / transform / aggregate higher-order functions over the
  * text column — no UDF, no shuffle). Every banding channel then runs
  * the one capped-pair operator, [[cappedPairs]]: a single key exchange,
  * a window count that drops keys held by more than the cap (the
  * blocker's stopword cap, [[LshBucketCap]]) before any list is
  * collected, and in-row pair generation — no self-join, no anti-join.
  * Candidate pairs are verified by [[withJaccard]], whose shuffle joins
  * fetch the sets of candidate pairs only — never the cross product,
  * and never a forced broadcast.
  */
object Dedup {

  /** Maximum signatures a (band, key) bucket may hold before it is
    * treated as boilerplate and dropped from candidate generation. A
    * boilerplate-heavy corpus can put k near-identical (but not
    * byte-identical, so exact-dedup-first does not collapse them)
    * signatures into one bucket; without the cap that bucket alone
    * emits k²/2 pairs — the skew blow-up the blocker's
    * stopword cost model exists to prevent
    * (`nomenklatura/blocker/index.py:66-71` is the reference's own
    * precedent). Docs in a dropped bucket still pair through their other
    * bands, exactly like the stopword cap leaves entities matchable on
    * their rarer tokens.
    */
  val LshBucketCap = 64L

  /** Pairs of rows sharing a key, over keys held by at most `cap` rows.
    *
    * One explicit-count repartition on `keys` (exempt from AQE
    * coalescing, so the pair fan-out runs on every core), then a window
    * count per key and `df <= cap` BEFORE the collect: no collected list
    * ever holds more than `cap` items, so a boilerplate key cannot blow
    * the aggregation buffer. Each surviving key collects its `item`s and
    * emits `pair(x, y)` for every ordered (x, y) that `keep` accepts;
    * the result has the pair struct's fields as columns. The pair array
    * is its own projection before the explode (a Generate over an inline
    * higher-order function re-runs the lambda per output row).
    *
    * There is no self-join: a self-join plans the keyed subtree once per
    * consumer and AQE never reuses the twin exchanges. The same pair may
    * come out of several keys; callers that want a set `distinct` it.
    */
  def cappedPairs(rows: DataFrame, keys: Seq[String], cap: Long,
      item: Column)(pair: (Column, Column) => Column,
      keep: Column => Column): DataFrame = {
    val ks = keys.map(col)
    val prs = flatten(transform(col("ds"),
      x => filter(transform(col("ds"), y => pair(x, y)), keep)))
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism,
        ks: _*)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(ks: _*)))
      .filter(col("df") <= cap)
      .groupBy(ks: _*).agg(collect_list(item).as("ds"))
      .select(prs.as("prs"))
      .select(explode(col("prs")).as("p"))
      .select("p.*")
  }

  /** `cand` plus `jaccard`, the raw set Jaccard
    * `inter / (|sa| + |sb| − inter)` of the `setCol` arrays `sets` holds
    * for ids `a` and `b`. Callers round it their own way.
    *
    * The arrays are fetched with shuffle joins on `a`, then `b`, with no
    * broadcast hint: the fetched side carries a whole set per candidate
    * pair and the pair count grows with duplication, so a forced
    * broadcast would grow with the data (the planner still broadcasts a
    * side whose estimated size is under its threshold). Both join legs
    * are repartitioned to an explicit count — the pair keys are tiny,
    * so AQE would otherwise coalesce the join onto one task, which then
    * computes every intersection single-threaded.
    */
  def withJaccard(cand: DataFrame, sets: DataFrame, idCol: String,
      setCol: String): DataFrame = {
    val par = cand.sparkSession.sparkContext.defaultParallelism
    val inter = size(array_intersect(col("sa"), col("sb")))
    cand.repartition(par, col("a"))
      .join(sets.select(col(idCol).as("a"), col(setCol).as("sa")), Seq("a"))
      .repartition(par, col("b"))
      .join(sets.select(col(idCol).as("b"), col(setCol).as("sb")), Seq("b"))
      .select(cand.columns.toSeq.map(col) :+ (inter.cast(DoubleType) /
        (size(col("sa")) + size(col("sb")) - inter)).as("jaccard"): _*)
  }

  /** The (a, b) pair struct of two collected ids. */
  private[graft] def idPair(x: Column, y: Column): Column =
    struct(x.as("a"), y.as("b"))

  /** `keep` for pairs whose `a` sorts before their `b`. */
  private[graft] def ascending(p: Column): Column =
    p.getField("a") < p.getField("b")

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
      .otherwise(array().cast(ArrayType(StringType)))
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
    * `bands` bands of `rowsPerBand`, bucket on (band, key), pair within
    * the buckets of at most `cap` rows ([[cappedPairs]]), distinct.
    * Returns (a, b) with a < b.
    */
  def lshCandidates(sig: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int, cap: Long = LshBucketCap): DataFrame =
    cappedPairs(lshBuckets(sig, idCol, bands, rowsPerBand),
      Seq("band", "key"), cap, col(idCol))(idPair, ascending).distinct()

  /** The per-band (band, key) struct array over a signature column. */
  def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("-", (0 until rowsPerBand).map(r =>
          element_at(sigCol, b * rowsPerBand + r + 1)): _*).as("key"))
    }: _*)

  /** The (id, band, key) bucket rows behind [[lshCandidates]] — exposed
    * so the delta-vs-corpus screen can pair the same buckets under its
    * own `keep` predicate.
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

  /** Hamming-near pairs via banding of a materialized simhash table:
    * two signatures within `maxDist` bits must agree on at least one of
    * `bands` `bandBits`-wide bands when bands > maxDist (pigeonhole).
    * Exact distance is checked after pairing — so the result is
    * complete for maxDist ≤ bands − 1 among signatures outside hot
    * buckets: buckets over `cap` are dropped ([[cappedPairs]]), the
    * same boilerplate skew guard as the minhash path. Callers hand in
    * a stored signature table (a lake artifact); the single key
    * exchange reads it once, so it needs no pin.
    */
  def simhashPairsFrom(sigsCk: DataFrame, idCol: String, bands: Int,
      bandBits: Int, maxDist: Int, cap: Long = LshBucketCap): DataFrame = {
    val mask = (1L << bandBits) - 1
    val banded = sigsCk.select(col(idCol), col("simhash"),
      explode(array((0 until bands).map(i =>
        struct(lit(i).as("band"),
          expr(s"shiftright(simhash, ${bandBits * i}) & $mask").as("key"))): _*))
        .as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    cappedPairs(banded, Seq("band", "key"), cap,
        struct(col(idCol).as("id"), col("simhash")))(
      (x, y) => struct(x.getField("id").as("a"), y.getField("id").as("b"),
        bit_count(x.getField("simhash").bitwiseXOR(y.getField("simhash")))
          .as("hamming")),
      ascending)
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
