package graft.blocker

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.EntityTokens
import graft.model.Ftm
import graft.streaming.MatchStream

/** The tokenizer against two references kept here. The family-union
  * form it replaced first: one select + explode branch per token
  * family, a `distinct` over the set-semantics families, a count over
  * the counted ones, and a union folded by (id, field, token). Both
  * [[EntityTokenizer.entries]] and [[MatchStream.queryTokens]] must
  * equal it row for row on generated statement tables (sampled
  * generators, as in MatchPropsSpec). Then the single-explode Column
  * form that the native generator ([[EntityTokens]]) replaced: the
  * generator must emit its rows occurrence for occurrence, through
  * generated code and interpreted.
  */
class EntityTokenizerSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  /** The tokenizer's former Column form, verbatim: the value parts and
    * name fingerprint projected once per row, then one `explode` of the
    * concatenated family arrays, each gated on `prop_type`.
    */
  private object ColumnForm {
    import EntityTokenizer._
    import graft.functions.TextExpressions.{lower, upper}

    def foldAscii(c: Column): Column =
      translate(regexp_replace(lower(c), "ß", "ss"), FoldSrc, FoldDst)

    def parts(c: Column): Column =
      filter(split(foldAscii(c), "[^a-z0-9]+"), p => length(p) > 0)

    private val EmittedType = ArrayType(StructType(Seq(
      StructField("field", StringType), StructField("token", StringType),
      StructField("counted", BooleanType))))

    val symbolsUdf = udf((parts: Seq[String]) =>
      if (parts == null) Seq.empty[String]
      else parts.flatMap(graft.text.Symbols.blockingSymbols).distinct)

    private def tokensOf: Column = {
      val t = col("prop_type")
      val v = col("value")
      val p = col("p")
      val fp = col("fp")
      def fam(cond: Column, arr: Column): Column =
        when(cond, arr).otherwise(array().cast(EmittedType))
      def one(field: Column, token: Column, counted: Boolean): Column =
        struct(field.as("field"), token.as("token"), lit(counted).as("counted"))
      def prefixed(xs: Column, field: String, prefix: String,
          counted: Boolean): Column =
        transform(xs, x => one(lit(field), concat(lit(prefix), x), counted))
      val isName = t === Ftm.T.Name
      val ident = concat(lit("i:"), regexp_replace(upper(v), "[^A-Z0-9]+", ""))
      val words = filter(p, w => !w.isInCollection(Stopwords))
      concat(
        fam(isName && length(fp) > 3 && length(fp) < 200,
          array(one(lit("name"), concat(lit("n:"), fp), counted = false))),
        fam(isName, prefixed(filter(p, x => length(x) >= 3 && length(x) <= 30),
          NamePartField, "np:", counted = false)),
        fam(isName, transform(symbolsUdf(p),
          x => one(lit(SymbolField), x, counted = false))),
        fam(t.isin(Ftm.T.Country, Ftm.T.Phone, Ftm.T.Email),
          array(one(t, concat(t, lit(":"), lower(substring(v, 1, 300))),
            counted = false))),
        fam(t === Ftm.T.Identifier && length(ident) > 2,
          array(one(lit("identifier"), ident, counted = false))),
        fam(t === Ftm.T.Date, array(one(lit("date"),
          concat(lit("d:"), substring(v, 1, 10)), counted = false))),
        fam(t === Ftm.T.Address, concat(
          prefixed(filter(words, w => length(w) > 3), "address", "a:",
            counted = true),
          prefixed(filter(words, w => length(w) > 6), WordField, "wd:",
            counted = true))),
        fam(t.isin(Ftm.T.StringT, Ftm.T.Text, Ftm.T.Identifier),
          prefixed(filter(words, w => length(w) >= 6), WordField, "wd:",
            counted = true)))
    }

    def emitted(st: DataFrame): DataFrame =
      st.select(col("id"), col("schema"), col("prop_type"), col("value"),
          parts(col("value")).as("p"))
        .withColumn("fp", when(col("prop_type") === Ftm.T.Name,
          array_join(array_sort(array_distinct(col("p"))), "")))
        .select(col("id"), col("schema"), explode(tokensOf).as("t"))
        .select(col("id"), col("schema"), col("t.field").as("field"),
          col("t.token").as("token"), col("t.counted").as("counted"))
  }

  /** The family-union tokenizer, verbatim apart from a null guard in
    * the symbol UDF: on a null name value the original UDF threw, so
    * the generated tables could not contain one.
    */
  private object Reference {
    import EntityTokenizer._
    import ColumnForm.{parts, symbolsUdf}

    private val commonSchemaUdf =
      udf((schemata: Seq[String]) => Ftm.commonSchema(schemata))

    def entries(stmts: DataFrame, idCol: String): DataFrame = {
      val st = preparedStatements(stmts, idCol)
      val setFam = setFamilyRows(st)
        .distinct()
        .withColumn("cnt", lit(1L))
      val counted = countedFamilyRows(st)
        .groupBy(col("id"), col("schema"), col("field"), col("token"))
        .agg(count(lit(1)).as("cnt"))
      setFam.select(col("schema"), col("id"), col("field"), col("token"),
          col("cnt"))
        .unionByName(counted.select(col("schema"), col("id"), col("field"),
          col("token"), col("cnt")))
        .groupBy(col("id"), col("field"), col("token"))
        .agg(commonSchemaUdf(collect_set(col("schema"))).as("schema"),
          sum(col("cnt")).as("cnt"))
        .select(col("schema"), col("id"), col("field"), col("token"),
          col("cnt"))
    }

    def queryTokens(stmts: DataFrame, idCol: String): DataFrame = {
      val st = preparedStatements(stmts, idCol)
      setFamilyRows(st).unionByName(countedFamilyRows(st))
    }

    private def setFamilyRows(st: DataFrame): DataFrame = {
      val p = parts(col("value"))
      val nameFp = st.filter(col("prop_type") === Ftm.T.Name)
        .select(col("id"), col("schema"),
          array_join(array_sort(array_distinct(p)), "").as("fp"))
        .filter(length(col("fp")) > 3 && length(col("fp")) < 200)
        .select(col("id"), col("schema"), lit("name").as("field"),
          concat(lit("n:"), col("fp")).as("token"))
      val nameParts = st.filter(col("prop_type") === Ftm.T.Name)
        .select(col("id"), col("schema"), explode(p).as("part"))
        .filter(length(col("part")) >= 3 && length(col("part")) <= 30)
        .select(col("id"), col("schema"), lit(NamePartField).as("field"),
          concat(lit("np:"), col("part")).as("token"))
      val full = st
        .filter(col("prop_type").isin(Ftm.T.Country, Ftm.T.Phone,
          Ftm.T.Email))
        .select(col("id"), col("schema"), col("prop_type").as("field"),
          concat(col("prop_type"), lit(":"),
            lower(substring(col("value"), 1, 300))).as("token"))
      val ident = st.filter(col("prop_type") === Ftm.T.Identifier)
        .select(col("id"), col("schema"), lit("identifier").as("field"),
          concat(lit("i:"),
            regexp_replace(upper(col("value")), "[^A-Z0-9]+", ""))
            .as("token"))
        .filter(length(col("token")) > 2)
      val date = st.filter(col("prop_type") === Ftm.T.Date)
        .select(col("id"), col("schema"), lit("date").as("field"),
          concat(lit("d:"), substring(col("value"), 1, 10)).as("token"))
      val symbols = st.filter(col("prop_type") === Ftm.T.Name)
        .select(col("id"), col("schema"), explode(symbolsUdf(p)).as("token"))
        .select(col("id"), col("schema"), lit(SymbolField).as("field"),
          col("token"))
      nameFp.unionByName(nameParts).unionByName(full)
        .unionByName(ident).unionByName(date).unionByName(symbols)
    }

    private def countedFamilyRows(st: DataFrame): DataFrame = {
      val p = parts(col("value"))
      val addrWords = st.filter(col("prop_type") === Ftm.T.Address)
        .select(col("id"), col("schema"), explode(p).as("w"))
        .filter(!col("w").isInCollection(Stopwords))
      val addrA = addrWords.filter(length(col("w")) > 3)
        .select(col("id"), col("schema"), lit("address").as("field"),
          concat(lit("a:"), col("w")).as("token"))
      val addrWd = addrWords.filter(length(col("w")) > 6)
        .select(col("id"), col("schema"), lit(WordField).as("field"),
          concat(lit("wd:"), col("w")).as("token"))
      val words = st
        .filter(col("prop_type").isin(Ftm.T.StringT, Ftm.T.Text,
          Ftm.T.Identifier))
        .select(col("id"), col("schema"), explode(p).as("w"))
        .filter(length(col("w")) >= 6 &&
          !col("w").isInCollection(Stopwords))
        .select(col("id"), col("schema"), lit(WordField).as("field"),
          concat(lit("wd:"), col("w")).as("token"))
      addrA.unionByName(addrWd).unionByName(words)
    }
  }

  private val propTypes: Seq[String] = Seq(
    Ftm.T.Name, Ftm.T.Entity, Ftm.T.Country, Ftm.T.Date, Ftm.T.Number,
    Ftm.T.Address, Ftm.T.Identifier, Ftm.T.StringT, Ftm.T.Text,
    Ftm.T.Email, Ftm.T.Phone, Ftm.T.Url, Ftm.T.Gender, Ftm.T.Topic,
    Ftm.T.Checksum)

  // accents, ß, stopwords, parts under 3 chars, symbol-bearing names,
  // identifier-like and date-like words
  private val words: Seq[String] = Seq(
    "Johanna", "Quandt", "Müller", "Straße", "José", "Ærø", "Zoë", "ß",
    "the", "und", "van", "de", "al", "x", "AB", "A1", "GmbH", "Ltd",
    "Holding", "John", "Johann", "London", "Berlin", "Bank", "First",
    "Deutschland", "Beteiligungs", "2001-02-03T04:05:06", "1999",
    "HRB-12345", "+49 30 1234", "info@example.org")

  private val seps: Seq[String] = Seq(" ", "-", ", ", ".", "  ")

  private val value: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    8 -> (for {
      n <- Gen.chooseNum(1, 4)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
      sep <- Gen.oneOf(seps)
    } yield ws.mkString(sep)))

  // canonical ids shared by entities of different schemata; SkipProperties
  // members and a non-matchable schema exercise the row filter
  private val row: Gen[(String, String, String, String, String, String)] =
    for {
      c <- Gen.chooseNum(1, 12)
      e <- Gen.chooseNum(1, 3)
      schema <- Gen.oneOf("Person", "LegalEntity", "Company", "Organization",
        "Address", "Thing")
      pt <- Gen.oneOf(propTypes)
      prop <- Gen.frequency(9 -> Gen.const(pt), 1 -> Gen.const("legalForm"))
      v <- value
    } yield (s"e$c.$e", s"c$c", schema, prop, pt, v)

  private def table(seed: Long, n: Int): DataFrame =
    Gen.listOfN(n, row).apply(Gen.Parameters.default, Seed(seed)).get
      .toDF("entity_id", "canonical_id", "schema", "prop", "prop_type",
        "value")

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map((r: Row) => r.toSeq)
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    val cols = want.columns.toSeq.map(col)
    val (g, w) = (bag(got.select(cols: _*)), bag(want.select(cols: _*)))
    assert(g === w, s"\nonly new: ${g.keySet -- w.keySet}" +
      s"\nonly reference: ${w.keySet -- g.keySet}")
  }

  test("entries equal the family-union reference on generated statements") {
    for ((seed, idCol) <- Seq(1L -> "canonical_id", 2L -> "entity_id")) {
      val st = table(seed, 160).cache()
      val want = Reference.entries(st, idCol)
      assert(want.count() > 50, "generated table emits too few tokens")
      sameRows(EntityTokenizer.entries(st, idCol), want)
      st.unpersist()
    }
  }

  test("queryTokens equal the family-union reference occurrence for occurrence") {
    val st = table(3L, 160).cache()
    sameRows(MatchStream.queryTokens(st), Reference.queryTokens(st, "entity_id"))
    st.unpersist()
  }

  /** Values the generated tables lack: non-ASCII scripts, case
    * mappings that change length or leave ASCII (`ß`, `ẞ`, `İ`, `ﬁ`),
    * supplementary-plane characters, a value past 300 characters and a
    * name whose fingerprint reaches 200.
    */
  private val edgeValues: Seq[String] = Seq(null, "", " - ", "ß", "STRAßE",
    "ẞ", "İstanbul", "Iİıi", "ﬁnance ﬂow", "Ærø Zoë José Đorđe",
    "Šiško Žižek", "Ωμέγα Βήτα Holdings", "Москва Кремль Банк", "北京 银行",
    "ខ្មែរ ភាសា", "\uD835\uDD18\uD835\uDD2B\uD835\uDD26 \uD83D\uDE00 emoji",
    "HRB-12345 ß-99", "2001-02-03T04:05:06", "1999 2000 the und",
    "John Smith Holding Ltd", "Deutschland Beteiligungs GmbH",
    "Bahnhofstraße 12, Bad Homburg vor der Höhe",
    "Überseering " * 30, (1 to 60).map(i => f"p$i%03d").mkString(" "))

  /** Every (type, value) pair of the edge values, null type included,
    * next to the generated tables' rows.
    */
  private def kernelInput: DataFrame = {
    val edge = for {
      (t, i) <- ((null: String) +: "unknown" +: propTypes).zipWithIndex
      (v, j) <- edgeValues.zipWithIndex
    } yield (s"x$i.$j", "Person", t, v)
    val generated = (4L to 6L).flatMap(seed => table(seed, 160)
      .select(col("entity_id"), col("schema"), col("prop_type"),
        col("value")).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))))
    spark.sparkContext.parallelize(edge ++ generated, 4)
      .toDF("id", "schema", "prop_type", "value")
  }

  for (codegen <- Seq(true, false))
    test("the token generator emits the Column form's rows " +
        s"(${if (codegen) "codegen" else "interpreted"})") {
      val confs = Map(
        "spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" ->
          (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
      val before = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val st = kernelInput.cache()
        val got = EntityTokenizer.emitted(st)
        val plan = got.queryExecution.executedPlan.toString
        assert(plan.contains(
          if (codegen) "*(1) Generate entity_tokens" else "Generate entity_tokens"),
          plan)
        assert(got.schema === ColumnForm.emitted(st).schema)
        val want = ColumnForm.emitted(st)
        assert(want.count() > 500)
        sameRows(got, want)
        st.unpersist()
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  test("a null name value emits no token") {
    val st = Seq(("e1", "c1", "Person", "name", Ftm.T.Name, null: String))
      .toDF("entity_id", "canonical_id", "schema", "prop", "prop_type",
        "value")
    assert(EntityTokenizer.entries(st).count() === 0L)
  }
}
