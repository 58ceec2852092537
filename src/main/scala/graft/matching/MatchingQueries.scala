package graft.matching

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocker.BlockerQueries
import graft.functions.TextExpressions.{lower, upper}
import graft.store.StarStatements

/** Pair-scoring stage: feature comparators over candidate pairs, composed
  * into algorithm scores (reference `matching/` package).
  *
  * Design follows SURVEY §2.8: per-entity analysis (fingerprint, token
  * set, number set) is computed ONCE per entity *before* the pair join —
  * the Spark replacement for the reference's per-batch `lru_cache`
  * memoization (`matching/util.py:17-19`) — then pairs join two analysis
  * rows and evaluate pure column expressions. Everything except
  * jaro-winkler stays in Catalyst built-ins (whole-stage codegen); JW is
  * one scalar UDF whose output was verified byte-identical to DuckDB's.
  *
  * Algorithm composition semantics mirror `HeuristicAlgorithm.compare`
  * (`matching/types.py:242-308`): qualifiers only apply when some main
  * feature fired; final score clamped to [0,1]. The regression scorer is
  * logistic inference with broadcast coefficients
  * (`matching/regression_v1/model.py:94-110`) — w·x+b → sigmoid, no ML
  * library needed.
  */
object MatchingQueries {

  // native Catalyst expression (graft.functions.JaroWinklerSim): stays
  // inside the WholeStageCodegen span of the feature projection where
  // the former Scala UDF forced a catalyst→external row conversion
  private def jw(a: Column, b: Column): Column =
    graft.functions.TextExpressions.jaroWinkler(a, b)

  /** Per-entity name analysis: one row per entity with precomputed
    * fingerprint / token set / number set columns.
    */
  def analysis(s: SparkSession, d: String): DataFrame = {
    val toks = array_distinct(filter(
      split(lower(col("name")), "[^a-z0-9]+"), t => length(t) > 0))
    StarStatements(s, d)
      .filter(col("field") === "name")
      .groupBy(col("id")).agg(min(col("value")).as("name"))
      .select(col("id"), col("name"),
        array_join(array_sort(filter(split(lower(col("name")), "[^a-z0-9]+"),
          t => length(t) > 0)), " ").as("fp"),
        toks.as("toks"),
        // order-preserving, non-distinct token list: DuckDB's
        // list_distinct reorders, so order-sensitive comparators (OFAC's
        // first-letter gate) must NOT go through the distinct column
        filter(split(lower(col("name")), "[^a-z0-9]+"), t => length(t) > 0)
          .as("otoks"),
        array_distinct(regexp_extract_all(col("name"), lit("[0-9]+"), lit(0)))
          .as("nums"))
  }

  /** [[analysis]] as a lake artifact — the per-entity name-analysis
    * index is computed once per corpus at ingest (the blocker-TF
    * pattern); five match/train queries consume it per side.
    */
  def analysisCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "match_analysis")(analysis(s, d))

  private def lrAnalysis(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val an = analysisCk(s, d)
    (an.select(col("id").as("lid"), col("name").as("lname"),
      col("fp").as("lfp"), col("toks").as("ltoks"), col("nums").as("lnums")),
      an.select(col("id").as("rid"), col("name").as("rname"),
        col("fp").as("rfp"), col("toks").as("rtoks"),
        col("nums").as("rnums")))
  }

  /** The feature vector as columns over a frame carrying both sides'
    * analysis columns (lname/lfp/ltoks/lnums + r-side).
    */
  private def featureSelect(pairs: DataFrame): DataFrame = {
    val overlap = size(array_intersect(col("ltoks"), col("rtoks")))
    pairs.select(col("lid"), col("rid"),
      when(col("lfp") === col("rfp"), 1.0).otherwise(0.0).as("literal"),
      (lit(1.0) - levenshtein(col("lfp"), col("rfp")) /
        greatest(length(col("lfp")), length(col("rfp")), lit(1)))
        .as("lev_sim"),
      (overlap.cast("double") /
        (size(col("ltoks")) + size(col("rtoks")) - overlap))
        .as("tok_jaccard"),
      jw(col("lname"), col("rname")).as("jw"),
      when(size(col("lnums")) > 0 && size(col("rnums")) > 0 &&
        size(array_intersect(col("lnums"), col("rnums"))) === 0, 1.0)
        .otherwise(0.0).as("num_mismatch"),
      when(substring(col("lid"), 1, 1) =!= substring(col("rid"), 1, 1), 1.0)
        .otherwise(0.0).as("schema_mismatch"))
  }

  /** Candidate pairs (blocker top-N) joined to both analysis rows, with
    * the feature vector evaluated as columns.
    */
  def features(s: SparkSession, d: String): DataFrame = {
    val (la, ra) = lrAnalysis(s, d)
    featureSelect(BlockerQueries.pairsQ(s, d)
      .join(la, Seq("lid"))
      .join(ra, Seq("rid")))
  }

  def featuresRounded(s: SparkSession, d: String): DataFrame =
    features(s, d).select(col("lid"), col("rid"), col("literal"),
      round(col("lev_sim"), 6).as("lev_sim"),
      round(col("tok_jaccard"), 6).as("tok_jaccard"),
      round(col("jw"), 6).as("jw"),
      col("num_mismatch"), col("schema_mismatch"))

  /** LogicV1-shape heuristic: score = max(weighted mains) + qualifiers,
    * qualifiers skipped when no main fired, clamped to [0,1]
    * (`matching/logic_v1/model.py:63-81`, `matching/types.py:242-308`).
    */
  def logicScore(s: SparkSession, d: String): DataFrame =
    logicSelect(features(s, d))

  /** The LogicV1 composition over any feature frame (shared by the full
    * and delta-xref paths).
    */
  private def logicSelect(feat: DataFrame): DataFrame = {
    val main = greatest(col("literal") * 1.0, col("lev_sim") * 0.8,
      col("tok_jaccard") * 0.7)
    val qual = col("num_mismatch") * -0.3 + col("schema_mismatch") * -0.1
    feat.select(col("lid"), col("rid"),
      round(when(main <= 0, 0.0)
        .otherwise(least(greatest(main + qual, lit(0.0)), lit(1.0))), 4)
        .as("score"))
  }

  /** Logistic-regression inference with fixed exported coefficients:
    * sigmoid(b + w·x) as a plain column expression.
    */
  val RegWeights: Seq[(String, Double)] = Seq(
    "literal" -> 4.0, "lev_sim" -> 2.5, "tok_jaccard" -> 1.5,
    "jw" -> 2.0, "num_mismatch" -> -2.5)
  val RegIntercept: Double = -3.0

  def regressionScore(s: SparkSession, d: String): DataFrame = {
    val z = RegWeights.foldLeft(lit(RegIntercept)) {
      case (acc, (f, w)) => acc + col(f) * w
    }
    features(s, d).select(col("lid"), col("rid"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("prob"))
  }

  // ------------------------------------------------ name-based trio

  /** Simplified soundex as a pure column expression (`soundexLite`):
    * vowels/h/w → 0, consonant classes 1-6, adjacent dupes squashed,
    * zeros dropped, first letter + 3 digits. Identical formula mirrored
    * in the DuckDB oracle (DuckDB has no soundex builtin), so both
    * engines agree byte-for-byte; the entity pipeline's
    * [[graft.text.Phonetics.soundex]] implements the classic H/W rules
    * instead.
    */
  def sxToken(t: Column): Column = {
    val codes = translate(t,
      "aeiouyhwbfpvcgjkqsxzdtlmnr", "00000000111122222222334556")
    val tail = translate(substring(
      regexp_replace(codes, "(.)\\1+", "$1"), 2, 1000000), "0", "")
    when(t.rlike("^[a-z]{2,}$"),
      concat(upper(substring(t, 1, 1)), rpad(substring(tail, 1, 3), 3, "0")))
      .otherwise(upper(t))
  }

  /** jaro_name_parts (`name_based/names.py:35-59`): mean best-JW per
    * distinct query token, 0.5 floor per pair — a native codegen
    * expression ([[graft.functions.JaroPartsSim]]); the former Scala
    * UDF here broke the trio projection's WholeStageCodegen span and
    * converted both token arrays to external Seqs per row (guide §4).
    */
  private def jaroParts(q: Column, r: Column): Column =
    graft.functions.TextExpressions.jaroParts(q, r)

  /** OFAC name-score emulation (`name_based/ofac.py:106-147`): max of
    * first-letter-gated whole-string SimMetrics-JW and per-token
    * best-pairing with a 0.5 floor and short-token drop — native
    * codegen expression ([[graft.functions.OfacSim]]), same rationale.
    */
  private def ofacName(q: Column, r: Column): Column =
    graft.functions.TextExpressions.ofacName(q, r)

  private def trioBase(s: SparkSession, d: String): DataFrame = {
    val an = analysisCk(s, d)
    val la = an.select(col("id").as("lid"), col("otoks").as("ltoks"),
      col("nums").as("lnums"))
    val ra = an.select(col("id").as("rid"), col("otoks").as("rtoks"),
      col("nums").as("rnums"))
    BlockerQueries.pairsQ(s, d).select("lid", "rid")
      .join(la, Seq("lid")).join(ra, Seq("rid"))
  }

  private def soundexPartsCol: Column = {
    val qsx = array_distinct(transform(col("ltoks"), t => sxToken(t)))
    val rsx = array_distinct(transform(col("rtoks"), t => sxToken(t)))
    val overlap = size(array_intersect(qsx, rsx))
    when(overlap === 0, 0.0).otherwise(
      overlap.cast("double") /
        greatest(lit(1.0), least(size(qsx), size(rsx)).cast("double")))
  }

  private def numbersMismatchCol: Column =
    size(array_except(col("lnums"), col("rnums"))).cast("double") /
      greatest(lit(1.0),
        least(size(col("lnums")), size(col("rnums"))).cast("double"))

  /** name-based: 0.5·jaro_name_parts + 0.5·soundex_name_parts
    * (`name_based/model.py:44-66`).
    */
  def nameBasedScore(s: SparkSession, d: String): DataFrame =
    trioBase(s, d).select(col("lid"), col("rid"),
      round(least(greatest(
        jaroParts(col("ltoks"), col("rtoks")) * 0.5 +
          soundexPartsCol * 0.5, lit(0.0)), lit(1.0)), 6).as("score"))

  /** name-qualified: name-based plus the mismatch qualifiers that exist
    * in the star corpus (numbers, `name_based/model.py:69-91`).
    */
  def nameQualifiedScore(s: SparkSession, d: String): DataFrame =
    trioBase(s, d).select(col("lid"), col("rid"),
      round(least(greatest(
        jaroParts(col("ltoks"), col("rtoks")) * 0.5 +
          soundexPartsCol * 0.5 + numbersMismatchCol * -0.1,
        lit(0.0)), lit(1.0)), 6).as("score"))

  /** ofac: OFAC emulation name score (`name_based/model.py:14-41`). */
  def ofacScore(s: SparkSession, d: String): DataFrame =
    trioBase(s, d).select(col("lid"), col("rid"),
      round(least(greatest(ofacName(col("ltoks"), col("rtoks")), lit(0.0)),
        lit(1.0)), 6).as("score"))

  /** xref end-to-end on the star corpus (`xref.py:29-160`): scored
    * candidate pairs → same-"dataset" discount ×0.7 (the id prefix is
    * the source table, standing in for the dataset) → min threshold →
    * ranked top suggestions. floor(x·1e4+0.5) instead of round avoids
    * the double-rounding ties (see q_text_quality).
    */
  def xrefSuggestQ(s: SparkSession, d: String): DataFrame =
    suggestSelect(logicScore(s, d))

  /** Discount → threshold → ranked suggestions over a logic-score frame
    * (shared by the full and delta-xref paths).
    */
  private def suggestSelect(logic: DataFrame): DataFrame = {
    val discounted = logic.select(col("lid"), col("rid"),
      (floor(when(substring(col("lid"), 1, 1) === substring(col("rid"), 1, 1),
        col("score") * 0.7).otherwise(col("score")) * 10000 + 0.5) / 10000)
        .as("score"))
    discounted.filter(col("score") >= 0.01)
      .orderBy(col("score").desc, col("lid").asc, col("rid").asc)
      .limit(1000)
  }

  /** Incremental xref (`xref.py:29-160` run on an increment): suggestions
    * for the store's delta entity set only, with candidates generated in
    * O(|Δ| × postings) by [[graft.blocker.Blocker.deltaPairScores]]
    * against the full-corpus TF artifact — re-xref what changed, never
    * the corpus. The oracle recomputes the FULL pair table and filters
    * to delta-touched pairs, so a hash match proves the delta-sized plan
    * reproduces the corpus-sized answer on the slice a production
    * operator actually needs after a MERGE.
    */
  def xrefDeltaQ(s: SparkSession, d: String): DataFrame = {
    val (la, ra) = lrAnalysis(s, d)
    val feat = featureSelect(BlockerQueries.deltaPairsQ(s, d)
      .select("lid", "rid").join(la, Seq("lid")).join(ra, Seq("rid")))
    suggestSelect(logicSelect(feat))
  }

  /** Training-set preparation (`matching/erun/train.py:155-216`):
    * feature vectors digest-grouped so identical samples collapse, and
    * digests carrying both labels are quarantined entirely. Features are
    * integer-rounded (1e-6) before hashing so the digest is stable
    * across engines; the pseudo-label is an md5-derived bit of the pair
    * id (deterministic stand-in for judgement labels).
    */
  def trainQuarantineQ(s: SparkSession, d: String): DataFrame = {
    val (la, ra) = lrAnalysis(s, d)
    // diverse deterministic pair sample, LINEAR in the corpus: each
    // entity pairs with 7 computed partner ids (5 same-schema offsets +
    // 2 cross-schema) via one equi-join — a training set needs the full
    // similarity spectrum, but never an n² self-join (the blocker's top
    // candidates are all exact dupes; a letter-blocked join is
    // quadratic on this corpus)
    // the 7-way explode runs over a SLIM (lid) projection — dragging
    // the analysis arrays through the fan-out copies them 7×; instead
    // the id pairs join both analysis sides map-side (broadcast: the
    // analysis index is entity-count rows, small at any SF relative to
    // the 7n pair stream), so the only shuffle left is the digest
    // aggregate
    val base = la.select(col("lid"))
      .withColumn("num", split(col("lid"), ":").getItem(1).cast("long"))
      .withColumn("pfx", substring(col("lid"), 1, 2))
      .withColumn("j", explode(sequence(lit(1), lit(7))))
    val rpfx = when(col("j") <= 5, col("pfx"))
      .otherwise(when(col("pfx") === "c:", "s:")
        .when(col("pfx") === "s:", "p:").otherwise("c:"))
    val roff = when(col("j") <= 5, col("j")).otherwise(col("j") - 5)
    val pairs = base
      .withColumn("rid",
        concat(rpfx, (col("num") + roff * 13).cast("string")))
      .drop("num", "pfx", "j")
      .join(broadcast(la), Seq("lid"))
      .join(broadcast(ra), Seq("rid"))
    val featCols = Seq("literal", "lev_sim", "tok_jaccard", "jw",
      "num_mismatch", "schema_mismatch")
    // fine quantization (1e-6): unique vectors survive as singletons,
    // duplicated vectors collapse, contradictory duplicates drop
    val ints = featCols.map(c =>
      floor(col(c) * 1000000 + 0.5).cast("long").as(c))
    // pseudo-judgement: high-JW pairs are "same" with a deterministic
    // 1/16 label-noise slice — identical vectors with contradicting
    // judgements are exactly what the quarantine exists to drop
    val flip = conv(substring(md5(concat(col("lid"), lit("|"), col("rid"))),
      1, 1), 16, 10).cast("int") % 16 === 0
    val staged = featureSelect(pairs)
      .select((Seq(col("lid"), col("rid")) ++ ints): _*)
      .withColumn("label",
        ((col("jw") >= 900000) =!= flip).cast("int"))
      .withColumn("digest", md5(concat_ws("|", featCols.map(col): _*)))
    staged.groupBy(col("digest"))
      .agg(min(col("label")).as("lmin"), max(col("label")).as("lmax"),
        count(lit(1)).as("n"))
      .filter(col("lmin") === col("lmax"))
      .select(col("digest"), col("lmin").as("label"), col("n"))
  }

  /** scoring_loss-style evaluation over the driver fixture (reference
    * `contrib/scoring_loss.py` shapes; the file-reading form with real
    * judgements is [[ScoringLoss]]): regression probabilities against
    * the quarantine's deterministic pseudo-judgement, aggregated to
    * mean absolute loss + confusion at three thresholds. Loss is summed
    * in integer micro-units — an integer sum is associative, so the
    * mean is partitioning-invariant where a raw double sum is not.
    */
  def matchLossQ(s: SparkSession, d: String): DataFrame = {
    val z = RegWeights.foldLeft(lit(RegIntercept)) {
      case (acc, (f, w)) => acc + col(f) * w
    }
    val flip = conv(substring(md5(concat(col("lid"), lit("|"),
      col("rid"))), 1, 1), 16, 10).cast("int") % 16 === 0
    val labeled = features(s, d).select(
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("prob"),
      ((floor(col("jw") * 1000000 + 0.5) >= 900000) =!= flip)
        .cast("int").as("label"))
    val lmicro = abs(col("label").cast("long") * 1000000L -
      round(col("prob") * 1000000).cast("long"))
    labeled.select(col("prob"), col("label"), lmicro.as("lmicro"),
        explode(typedLit(Seq(0.5, 0.7, 0.9))).as("threshold"))
      .groupBy(col("threshold")).agg(
        count(lit(1)).as("pairs"),
        round(sum(col("lmicro")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("mean_loss"),
        sum(when(col("label") === 1 && col("prob") > col("threshold"), 1L)
          .otherwise(0L)).as("true_pos"),
        sum(when(col("label") === 0 && col("prob") <= col("threshold"), 1L)
          .otherwise(0L)).as("true_neg"),
        sum(when(col("label") === 0 && col("prob") > col("threshold"), 1L)
          .otherwise(0L)).as("false_pos"),
        sum(when(col("label") === 1 && col("prob") <= col("threshold"), 1L)
          .otherwise(0L)).as("false_neg"))
      .orderBy(col("threshold"))
  }

  // ---------------------------------------------------------------- oracle

  private val featSql: String = s"""
    names AS (
      SELECT id, min(value) AS name FROM stmts
      WHERE field = 'name' GROUP BY id
    ),
    analysis AS (
      SELECT id, name,
        array_to_string(list_sort(list_filter(
          string_split_regex(lower(name), '[^a-z0-9]+'),
          t -> length(t) > 0)), ' ') AS fp,
        list_distinct(list_filter(
          string_split_regex(lower(name), '[^a-z0-9]+'),
          t -> length(t) > 0)) AS toks,
        list_filter(string_split_regex(lower(name), '[^a-z0-9]+'),
          t -> length(t) > 0) AS otoks,
        list_distinct(regexp_extract_all(name, '[0-9]+')) AS nums
      FROM names
    ),
    cand AS (
      SELECT lid, rid FROM pair_scores
      ORDER BY score DESC, lid, rid LIMIT ${BlockerQueries.cfg.maxPairs}
    ),
    ${featCte("cand", "feat")}
    """

  /** The feature-vector CTE body over a named candidate CTE — shared by
    * the standard `cand`→`feat` chain and the delta-xref oracle, so both
    * evaluate the literal-identical comparator SQL.
    */
  private def featCte(candName: String, featName: String): String = s"""
    $featName AS (
      SELECT c.lid, c.rid,
        CASE WHEN la.fp = ra.fp THEN 1.0 ELSE 0.0 END AS literal,
        1.0 - CAST(levenshtein(la.fp, ra.fp) AS DOUBLE)
              / greatest(length(la.fp), length(ra.fp), 1) AS lev_sim,
        CAST(len(list_intersect(la.toks, ra.toks)) AS DOUBLE)
          / (len(la.toks) + len(ra.toks)
             - len(list_intersect(la.toks, ra.toks))) AS tok_jaccard,
        jaro_winkler_similarity(la.name, ra.name) AS jw,
        CASE WHEN len(la.nums) > 0 AND len(ra.nums) > 0
              AND len(list_intersect(la.nums, ra.nums)) = 0
             THEN 1.0 ELSE 0.0 END AS num_mismatch,
        CASE WHEN substr(c.lid, 1, 1) <> substr(c.rid, 1, 1)
             THEN 1.0 ELSE 0.0 END AS schema_mismatch
      FROM $candName c
      JOIN analysis la ON c.lid = la.id
      JOIN analysis ra ON c.rid = ra.id
    )"""

  private def prefix: String = BlockerQueries.ctePrefix + ", " + featSql

  private val regZ: String = RegWeights
    .map { case (f, w) => s"$f * ($w)" }
    .mkString(s"($RegIntercept) + ", " + ", "")

  // --------------------------------------- name-based trio oracle SQL

  /** DuckDB mirror of [[sxToken]] over a lambda variable. */
  private def sxSql(t: String): String =
    s"""CASE WHEN regexp_matches($t, '^[a-z]{2,}$$')
        THEN upper(substr($t,1,1)) ||
             rpad(substr(replace(substr(regexp_replace(
               translate($t, 'aeiouyhwbfpvcgjkqsxzdtlmnr',
                         '00000000111122222222334556'),
               '(.)\\1+', '\\1', 'g'), 2), '0', ''), 1, 3), 3, '0')
        ELSE upper($t) END"""

  /** DuckDB mirror of SimMetrics Jaro-Winkler (unconditional prefix
    * bonus; prefix length via substr CASE chain).
    */
  private def simjwSql(a: String, b: String): String =
    s"""(CASE WHEN jaro_similarity($a, $b) = 0 THEN 0.0
         ELSE jaro_similarity($a, $b) +
           (CASE WHEN substr($a,1,4) = substr($b,1,4) THEN 4
                 WHEN substr($a,1,3) = substr($b,1,3) THEN 3
                 WHEN substr($a,1,2) = substr($b,1,2) THEN 2
                 WHEN substr($a,1,1) = substr($b,1,1) THEN 1
                 ELSE 0 END) * 0.1 * (1 - jaro_similarity($a, $b)) END)"""

  private val jaroPartsSql: String = """
    list_sum(list_transform(list_distinct(lt), p ->
      coalesce(list_max(list_filter(
        list_transform(list_distinct(rt),
          o -> jaro_winkler_similarity(p, o)),
        s -> s > 0.5)), 0.0)))
    / greatest(1.0, CAST(len(list_distinct(lt)) AS DOUBLE))"""

  private val soundexPartsSql: String = s"""
    CASE WHEN len(list_intersect(
           list_distinct(list_transform(lt, t -> ${sxSql("t")})),
           list_distinct(list_transform(rt, t -> ${sxSql("t")})))) = 0
         THEN 0.0
         ELSE CAST(len(list_intersect(
                list_distinct(list_transform(lt, t -> ${sxSql("t")})),
                list_distinct(list_transform(rt, t -> ${sxSql("t")}))))
              AS DOUBLE)
              / greatest(1.0, CAST(least(
                  len(list_distinct(list_transform(lt, t -> ${sxSql("t")}))),
                  len(list_distinct(list_transform(rt, t -> ${sxSql("t")}))))
                AS DOUBLE)) END"""

  private val numbersSql: String = """
    CAST(len(list_filter(ln, x -> NOT list_contains(rn, x))) AS DOUBLE)
    / greatest(1.0, CAST(least(len(ln), len(rn)) AS DOUBLE))"""

  private val ofacSql: String = {
    val qn = "array_to_string(lt, ' ')"
    val rn = "array_to_string(rt, ' ')"
    val whole = s"""CASE WHEN length($qn) = 0 OR length($rn) = 0
        OR substr($qn,1,1) <> substr($rn,1,1) THEN 0.0
        ELSE ${simjwSql(qn, rn)} END"""
    val kept = s"""CASE WHEN len(list_filter(lt, t -> length(t) > 2)) > 0
        THEN list_filter(lt, t -> length(t) > 2) ELSE lt END"""
    val per = s"""CASE WHEN len($kept) = 0 OR len(rt) = 0 THEN 0.0
        ELSE list_sum(list_transform($kept, p ->
          CASE WHEN coalesce(list_max(list_transform(rt,
                 o -> ${simjwSql("p", "o")})), 0.0) >= 0.5
               THEN coalesce(list_max(list_transform(rt,
                 o -> ${simjwSql("p", "o")})), 0.0)
               ELSE 0.0 END))
          / CAST(len($kept) AS DOUBLE) END"""
    s"greatest($whole, $per)"
  }

  private val trioCte: String = """
    trio AS (
      SELECT c.lid, c.rid, la.otoks AS lt, ra.otoks AS rt,
             la.nums AS ln, ra.nums AS rn
      FROM cand c
      JOIN analysis la ON c.lid = la.id
      JOIN analysis ra ON c.rid = ra.id
    )
    """

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_match_features" -> (featuresRounded _),
    "q_match_logic" -> (logicScore _),
    "q_match_regression" -> (regressionScore _),
    "q_match_name_based" -> (nameBasedScore _),
    "q_match_name_qualified" -> (nameQualifiedScore _),
    "q_match_ofac" -> (ofacScore _),
    "q_match_loss" -> (matchLossQ _),
    "q_train_quarantine" -> (trainQuarantineQ _),
    "q_xref_suggest" -> (xrefSuggestQ _),
    "q_xref_delta" -> (xrefDeltaQ _))

  val oracles: Map[String, String] = Map(
    "q_match_features" -> (prefix + """
      SELECT lid, rid, literal, round(lev_sim, 6) AS lev_sim,
             round(tok_jaccard, 6) AS tok_jaccard, round(jw, 6) AS jw,
             num_mismatch, schema_mismatch
      FROM feat"""),
    "q_match_logic" -> (prefix + """
      SELECT lid, rid,
        round(CASE WHEN main <= 0 THEN 0.0
                   ELSE least(greatest(main + qual, 0.0), 1.0) END, 4) AS score
      FROM (
        SELECT lid, rid,
               greatest(literal * 1.0, lev_sim * 0.8, tok_jaccard * 0.7) AS main,
               num_mismatch * -0.3 + schema_mismatch * -0.1 AS qual
        FROM feat)"""),
    "q_match_regression" -> (prefix + s"""
      SELECT lid, rid, round(1.0 / (1.0 + exp(-($regZ))), 6) AS prob
      FROM feat"""),
    "q_match_loss" -> (prefix + s"""
      , labeled AS (
        SELECT round(1.0 / (1.0 + exp(-($regZ))), 6) AS prob,
               CAST((CAST(floor(jw * 1000000 + 0.5) AS BIGINT) >= 900000)
                 <> (CAST(('0x' || substr(md5(lid || '|' || rid), 1, 1))
                      AS INT) % 16 = 0) AS INT) AS label
        FROM feat),
      lm AS (
        SELECT prob, label,
               abs(CAST(label AS BIGINT) * 1000000 -
                 CAST(round(prob * 1000000) AS BIGINT)) AS lmicro
        FROM labeled)
      SELECT threshold, CAST(count(*) AS BIGINT) AS pairs,
             round(CAST(sum(lmicro) AS DOUBLE) / count(*) / 1000000, 6)
               AS mean_loss,
             CAST(sum(CASE WHEN label = 1 AND prob > threshold
               THEN 1 ELSE 0 END) AS BIGINT) AS true_pos,
             CAST(sum(CASE WHEN label = 0 AND prob <= threshold
               THEN 1 ELSE 0 END) AS BIGINT) AS true_neg,
             CAST(sum(CASE WHEN label = 0 AND prob > threshold
               THEN 1 ELSE 0 END) AS BIGINT) AS false_pos,
             CAST(sum(CASE WHEN label = 1 AND prob <= threshold
               THEN 1 ELSE 0 END) AS BIGINT) AS false_neg
      FROM lm, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.7 AS DOUBLE)),
                       (CAST(0.9 AS DOUBLE))) t(threshold)
      GROUP BY threshold ORDER BY threshold"""),
    "q_match_name_based" -> (prefix + ", " + trioCte + s"""
      SELECT lid, rid,
             round(least(greatest(($jaroPartsSql) * 0.5
               + ($soundexPartsSql) * 0.5, 0.0), 1.0), 6) AS score
      FROM trio"""),
    "q_match_name_qualified" -> (prefix + ", " + trioCte + s"""
      SELECT lid, rid,
             round(least(greatest(($jaroPartsSql) * 0.5
               + ($soundexPartsSql) * 0.5
               + ($numbersSql) * -0.1, 0.0), 1.0), 6) AS score
      FROM trio"""),
    "q_match_ofac" -> (prefix + ", " + trioCte + s"""
      SELECT lid, rid,
             round(least(greatest($ofacSql, 0.0), 1.0), 6) AS score
      FROM trio"""),
    "q_train_quarantine" -> (prefix + """
      , tpairs AS (
        SELECT q.lid, q.rid, q.lname, q.lfp, q.ltoks, q.lnums,
               ra.name AS rname, ra.fp AS rfp, ra.toks AS rtoks,
               ra.nums AS rnums
        FROM (
          SELECT a.id AS lid, a.name AS lname, a.fp AS lfp,
                 a.toks AS ltoks, a.nums AS lnums,
                 (CASE WHEN t.j <= 5 THEN substr(a.id, 1, 2)
                       ELSE CASE substr(a.id, 1, 2) WHEN 'c:' THEN 's:'
                            WHEN 's:' THEN 'p:' ELSE 'c:' END END)
                 || CAST(CAST(split_part(a.id, ':', 2) AS BIGINT)
                      + (CASE WHEN t.j <= 5 THEN t.j ELSE t.j - 5 END) * 13
                    AS VARCHAR) AS rid
          FROM analysis a, unnest(range(1, 8)) t(j)
        ) q JOIN analysis ra ON q.rid = ra.id
      ),
      tfeat AS (
        SELECT lid, rid,
          CASE WHEN lfp = rfp THEN 1.0 ELSE 0.0 END AS literal,
          1.0 - CAST(levenshtein(lfp, rfp) AS DOUBLE)
                / greatest(length(lfp), length(rfp), 1) AS lev_sim,
          CAST(len(list_intersect(ltoks, rtoks)) AS DOUBLE)
            / (len(ltoks) + len(rtoks)
               - len(list_intersect(ltoks, rtoks))) AS tok_jaccard,
          jaro_winkler_similarity(lname, rname) AS jw,
          CASE WHEN len(lnums) > 0 AND len(rnums) > 0
                AND len(list_intersect(lnums, rnums)) = 0
               THEN 1.0 ELSE 0.0 END AS num_mismatch,
          CASE WHEN substr(lid, 1, 1) <> substr(rid, 1, 1)
               THEN 1.0 ELSE 0.0 END AS schema_mismatch
        FROM tpairs
      ),
      ints AS (
        SELECT lid, rid,
          CAST(floor(literal * 1000000 + 0.5) AS BIGINT) AS literal,
          CAST(floor(lev_sim * 1000000 + 0.5) AS BIGINT) AS lev_sim,
          CAST(floor(tok_jaccard * 1000000 + 0.5) AS BIGINT) AS tok_jaccard,
          CAST(floor(jw * 1000000 + 0.5) AS BIGINT) AS jw,
          CAST(floor(num_mismatch * 1000000 + 0.5) AS BIGINT)
            AS num_mismatch,
          CAST(floor(schema_mismatch * 1000000 + 0.5) AS BIGINT)
            AS schema_mismatch
        FROM tfeat
      ),
      labeled AS (
        SELECT md5(CAST(literal AS VARCHAR) || '|'
                 || CAST(lev_sim AS VARCHAR) || '|'
                 || CAST(tok_jaccard AS VARCHAR) || '|'
                 || CAST(jw AS VARCHAR) || '|'
                 || CAST(num_mismatch AS VARCHAR) || '|'
                 || CAST(schema_mismatch AS VARCHAR)) AS digest,
               CAST((jw >= 900000) <>
                 (CAST(('0x' || substr(md5(lid || '|' || rid), 1, 1))
                    AS INT) % 16 = 0) AS INT) AS label
        FROM ints
      )
      SELECT digest, CAST(min(label) AS INT) AS label,
             CAST(count(*) AS BIGINT) AS n
      FROM labeled GROUP BY digest
      HAVING min(label) = max(label)"""),
    "q_xref_suggest" -> (prefix + """
      , logic AS (
        SELECT lid, rid,
          round(CASE WHEN main <= 0 THEN 0.0
                ELSE least(greatest(main + qual, 0.0), 1.0) END, 4) AS score
        FROM (
          SELECT lid, rid,
                 greatest(literal * 1.0, lev_sim * 0.8,
                          tok_jaccard * 0.7) AS main,
                 num_mismatch * -0.3 + schema_mismatch * -0.1 AS qual
          FROM feat)
      )
      SELECT lid, rid, score FROM (
        SELECT lid, rid,
               floor((CASE WHEN substr(lid, 1, 1) = substr(rid, 1, 1)
                      THEN score * 0.7 ELSE score END) * 10000 + 0.5)
                 / 10000 AS score
        FROM logic)
      WHERE score >= 0.01
      ORDER BY score DESC, lid, rid LIMIT 1000"""),
    "q_xref_delta" -> (prefix + s""",
      delta_ids AS (
        SELECT DISTINCT id FROM stmts
        WHERE TRY_CAST(split_part(id, ':', 2) AS BIGINT) % 7 = 0
      ),
      delta_cand AS (
        SELECT lid, rid FROM pair_scores
        WHERE lid IN (SELECT id FROM delta_ids)
           OR rid IN (SELECT id FROM delta_ids)
        ORDER BY score DESC, lid, rid
        LIMIT ${BlockerQueries.cfg.maxPairs}
      ),
      ${featCte("delta_cand", "dfeat")},
      dlogic AS (
        SELECT lid, rid,
          round(CASE WHEN main <= 0 THEN 0.0
                ELSE least(greatest(main + qual, 0.0), 1.0) END, 4) AS score
        FROM (
          SELECT lid, rid,
                 greatest(literal * 1.0, lev_sim * 0.8,
                          tok_jaccard * 0.7) AS main,
                 num_mismatch * -0.3 + schema_mismatch * -0.1 AS qual
          FROM dfeat)
      )
      SELECT lid, rid, score FROM (
        SELECT lid, rid,
               floor((CASE WHEN substr(lid, 1, 1) = substr(rid, 1, 1)
                      THEN score * 0.7 ELSE score END) * 10000 + 0.5)
                 / 10000 AS score
        FROM dlogic)
      WHERE score >= 0.01
      ORDER BY score DESC, lid, rid LIMIT 1000"""))
}
