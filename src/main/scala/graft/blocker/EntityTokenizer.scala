package graft.blocker

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextExpressions.entityTokens
import graft.model.Ftm

/** Typed entity tokenizer — the FtM-aware token emission of the
  * reference (`blocker/tokenizer.py:61-132`), columnar and single-scan:
  * each statement row emits every (field, token, counted) tuple of the
  * families that apply to its `prop_type` through ONE generator, and
  * ONE groupBy on (id, field, token) folds them into the inverted index
  * (`blocker/index.py:162-169`). The plan is one scan of the statement
  * table and one exchange, whatever the number of families.
  *
  * Emission families (field → token prefix):
  *  - `name`  → `n:<fingerprint>` — sorted distinct name parts joined
  *  - `np`    → `np:<part>` — name parts of length 3..30, set semantics
  *  - `country`/`phone`/`email` → full lowercase value, set semantics
  *  - `identifier` → `i:<A-Z0-9-normalized>`, set semantics
  *  - `date`  → `d:<value[:10]>`, set semantics
  *  - `address` → `a:<word>` for words >3 chars (counted), plus
  *    `wd:<word>` for words >6 chars
  *  - string/text/identifier values → `wd:<token>` for tokens ≥6 chars
  *    (counted)
  *  - `sy`    → `sy:<category>:<id>` symbol tokens from name parts
  *    (org-class groups, name-variant groups, nicknames, locations,
  *    numerals — [[graft.text.Symbols.blockingSymbols]]), set
  *    semantics; the engine's analogue of the reference's symbol-span
  *    emission (`blocker/tokenizer.py:71-78`, which skips the INITIAL
  *    and SYMBOL categories)
  */
object EntityTokenizer {

  val WordField = "wd"
  val NamePartField = "np"
  val SymbolField = "sy"

  /** Reference boosts (`blocker/index.py:87-95`): full-name fingerprints
    * 15×, phone/email/identifier 10×, name parts 5×, address 1×, generic
    * words 0.5×, every other field 1×.
    */
  val Boosts: Seq[(String, Double)] = Seq(
    NamePartField -> 5.0, WordField -> 0.5, "name" -> 15.0,
    "phone" -> 10.0, "email" -> 10.0, "address" -> 1.0,
    "identifier" -> 10.0)

  /** Alias-damped fields (`blocker/index.py:521`). */
  val DampFields: Seq[String] = Seq(NamePartField, SymbolField)

  val SkipProperties: Set[String] = Set(
    "wikidataId", "wikipediaUrl", "publisher", "publisherUrl", "programId",
    "recordId", "legalForm", "status")

  /** Multi-language function words standing in for rigour's
    * `is_stopword`: filtered from generic word tokens and damped in
    * name alignment. English, German, Dutch, Romance and Slavic
    * articles/prepositions that appear inside entity names.
    */
  val Stopwords: Seq[String] = Seq(
    "the", "and", "for", "with", "from",
    "von", "und", "der", "die", "das", "des", "den", "dem", "ein",
    "eine", "fur", "bei", "nach", "uber", "unter", "zum", "zur",
    "van", "het", "een", "ten", "ter",
    "les", "los", "las", "del", "della", "delle", "degli", "dei",
    "aux", "par", "pour", "sur", "chez", "et",
    "dos", "nas", "nos", "pelo", "pela",
    "och", "med", "pa", "av",
    "na", "po", "pri", "za", "iz", "ot", "pod", "nad")

  /** Accent-fold source/target alphabets — shared by the token kernel
    * ([[graft.functions.TokenKernels]]) and the DuckDB oracle SQL
    * (BlockerQueries) so both sides tokenize identically on accented
    * input.
    */
  val FoldSrc = "àáâãäåæçèéêëìíîïñòóôõöøùúûüýÿšžđ"
  val FoldDst = "aaaaaaaceeeeiiiinoooooouuuuyyszd"

  /** Matchable-schema statement projection shared by the batch entries
    * build and the streaming tokenizer: filter + column shaping only.
    */
  def preparedStatements(stmts: DataFrame, idCol: String): DataFrame = {
    val matchable = Ftm.schemata.keys.filter(Ftm.isMatchable).toSeq
    stmts
      .filter(col("schema").isin(matchable: _*) &&
        !col("prop").isin(SkipProperties.toSeq: _*))
      .select(col(idCol).as("id"), col("schema"), col("prop"),
        col("prop_type"), col("value"))
  }

  /** Prepared statements → one (id, schema, field, token, counted) row
    * per token occurrence, from one generator whose generated code calls
    * the static [[graft.functions.TokenKernels.tokens]]. Stateless and
    * map-side only; shared by [[entries]] and the streaming tokenizer
    * (which dedupes in its own state instead of a batch aggregation).
    */
  def emitted(st: DataFrame): DataFrame =
    st.select(col("id"), col("schema"),
      entityTokens(col("prop_type"), col("value")))

  /** Statements → (schema, id, field, token, cnt) entries for matchable
    * schemata. `idCol` selects entity_id vs canonical_id grouping.
    *
    * One row per (id, field, token) with the cluster's MERGED schema: a
    * mixed-schema canonical cluster (Person merged under LegalEntity)
    * must not emit the same token once per statement schema — that
    * doubles n in the pair score and inflates xref ranking. The
    * reference tokenizes the assembled entity, which has one schema.
    * `cnt` is the number of distinct statement schemas carrying the
    * token for set-semantics fields and the number of occurrences for
    * counted fields; the two families never share a field.
    */
  def entries(stmts: DataFrame, idCol: String = "canonical_id"): DataFrame =
    emitted(preparedStatements(stmts, idCol))
      .groupBy(col("id"), col("field"), col("token"))
      .agg(collect_set(col("schema")).as("schemas"),
        count(lit(1)).as("n"), max(col("counted")).as("counted"))
      .select(commonSchemaUdf(col("schemas")).as("schema"), col("id"),
        col("field"), col("token"),
        when(col("counted"), col("n"))
          .otherwise(size(col("schemas")).cast(LongType)).as("cnt"))

  private val commonSchemaUdf =
    udf((schemata: Seq[String]) => Ftm.commonSchema(schemata))

  /** Symbol tokens of raw (id, schema, value) name rows →
    * (schema, id, field='sy', token, cnt=1), set semantics. The
    * standalone form of the `sy` family for callers whose input is not
    * a full statement table (q_blk_symbols).
    */
  def symbolEntries(named: DataFrame): DataFrame =
    named.select(col("schema"), col("id"),
        entityTokens(lit(Ftm.T.Name), col("value")))
      .filter(col("field") === SymbolField)
      .select(col("schema"), col("id"), col("field"), col("token"),
        lit(1L).as("cnt"))
      .distinct()
}
