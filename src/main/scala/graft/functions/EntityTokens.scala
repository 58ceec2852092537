package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.blocker.EntityTokenizer
import graft.model.Ftm

/** The static kernel of [[EntityTokens]]: every (field, token, counted)
  * row of one statement, the families of
  * [[graft.blocker.EntityTokenizer]] in their emission order. It
  * computes what the tokenizer's former Column form computed, row for
  * row, and that form is kept as the parity oracle of
  * `EntityTokenizerSpec`:
  *
  *  - the value parts are the runs of `[a-z0-9]` in the value lowered
  *    by [[CaseKernels.lower]], with `ß` spelled `ss` and the
  *    `FoldSrc` accents folded to `FoldDst`;
  *  - a null type emits nothing; a null value emits one null-token row
  *    for the country, phone, email and date families and nothing for
  *    the others (where the Column form's `concat` of a null array
  *    nulled the whole row array).
  */
object TokenKernels {

  val Schema: StructType = StructType(Seq(
    StructField("field", StringType), StructField("token", StringType),
    StructField("counted", BooleanType)))

  private val Fold: Array[Char] = {
    val t = new Array[Char](EntityTokenizer.FoldSrc.max + 1)
    EntityTokenizer.FoldSrc.zip(EntityTokenizer.FoldDst)
      .foreach { case (s, d) => t(s) = d }
    t
  }

  private val Stopwords: Set[String] = EntityTokenizer.Stopwords.toSet

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private val NameField = utf8("name")
  private val NamePartField = utf8(EntityTokenizer.NamePartField)
  private val SymbolField = utf8(EntityTokenizer.SymbolField)
  private val WordField = utf8(EntityTokenizer.WordField)
  private val IdentifierField = utf8("identifier")
  private val DateField = utf8("date")
  private val AddressField = utf8("address")
  private val Colon = utf8(":")

  private def isPart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** The lowered, `ß`-expanded, accent-folded value split into its
    * non-empty `[a-z0-9]` runs, in order.
    */
  def parts(v: UTF8String, icu: Boolean): Array[String] = {
    val s = CaseKernels.lower(v, icu).toString
    val out = Array.newBuilder[String]
    val b = new java.lang.StringBuilder
    def flush(): Unit =
      if (b.length > 0) { out += b.toString; b.setLength(0) }
    var i = 0
    while (i < s.length) {
      val c0 = s.charAt(i)
      if (c0 == 'ß') b.append("ss")
      else {
        val c = if (c0 < Fold.length && Fold(c0) != 0) Fold(c0) else c0
        if (isPart(c)) b.append(c) else flush()
      }
      i += 1
    }
    flush()
    out.result()
  }

  /** The ASCII letters and digits of the upper-cased value. */
  private def identifierChars(v: UTF8String, icu: Boolean): String = {
    val s = CaseKernels.upper(v, icu).toString
    val b = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')) b.append(c)
      i += 1
    }
    b.toString
  }

  /** Every token row of one statement of type `t` and value `v`. */
  def tokens(t: UTF8String, v: UTF8String, icu: Boolean): Iterator[InternalRow] = {
    if (t == null) return Iterator.empty
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]
    def emit(field: UTF8String, token: UTF8String, counted: Boolean): Unit =
      out += new GenericInternalRow(Array[Any](field, token, counted))
    def prefixed(field: UTF8String, prefix: String, xs: Iterable[String],
        counted: Boolean): Unit =
      xs.foreach(x => emit(field, utf8(prefix + x), counted))
    t.toString match {
      case Ftm.T.Country | Ftm.T.Phone | Ftm.T.Email =>
        emit(t, if (v == null) null
          else UTF8String.concat(t, Colon,
            CaseKernels.lower(v.substringSQL(1, 300), icu)), counted = false)
      case Ftm.T.Date =>
        emit(DateField,
          if (v == null) null else utf8("d:" + v.substringSQL(1, 10)),
          counted = false)
      case _ if v == null =>
      case Ftm.T.Name =>
        val p = parts(v, icu)
        val fp = String.join("", new java.util.TreeSet[String](
          java.util.Arrays.asList(p: _*)))
        if (fp.length > 3 && fp.length < 200)
          emit(NameField, utf8("n:" + fp), counted = false)
        prefixed(NamePartField, "np:",
          p.filter(x => x.length >= 3 && x.length <= 30), counted = false)
        prefixed(SymbolField, "",
          p.flatMap(graft.text.Symbols.blockingSymbols).distinct,
          counted = false)
      case Ftm.T.Identifier =>
        val ident = identifierChars(v, icu)
        if (ident.nonEmpty) emit(IdentifierField, utf8("i:" + ident),
          counted = false)
        prefixed(WordField, "wd:", words(v, icu).filter(_.length >= 6),
          counted = true)
      case Ftm.T.Address =>
        val ws = words(v, icu)
        prefixed(AddressField, "a:", ws.filter(_.length > 3), counted = true)
        prefixed(WordField, "wd:", ws.filter(_.length > 6), counted = true)
      case Ftm.T.StringT | Ftm.T.Text =>
        prefixed(WordField, "wd:", words(v, icu).filter(_.length >= 6),
          counted = true)
      case _ =>
    }
    out.iterator
  }

  private def words(v: UTF8String, icu: Boolean): Array[String] =
    parts(v, icu).filterNot(Stopwords)
}

/** One statement's `(field, token, counted)` rows as a native generator
  * (the tokenizer's one `explode`): generated code calls the static
  * [[TokenKernels.tokens]] on the row's `prop_type` and `value`, so
  * no lambda chain is planned, compiled or interpreted per query. Like
  * [[CaseMap]] it reads the ICU case-mapping flag from the session conf
  * when first evaluated.
  */
case class EntityTokens(propType: Expression, value: Expression)
    extends Generator {

  private lazy val icu: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def children: Seq[Expression] = Seq(propType, value)
  override def elementSchema: StructType = TokenKernels.Schema
  override def prettyName: String = "entity_tokens"

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    TokenKernels.tokens(propType.eval(input).asInstanceOf[UTF8String],
      value.eval(input).asInstanceOf[UTF8String], icu)

  protected override def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val t = propType.genCode(ctx)
    val v = value.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |${v.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.functions.TokenKernels.tokens(${t.isNull} ? null : ${t.value},
      |    ${v.isNull} ? null : ${v.value}, $icu);
      |""".stripMargin, isNull = FalseLiteral)
  }

  protected override def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(propType = newChildren(0), value = newChildren(1))
}
