package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, String2StringExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity as a NATIVE Catalyst expression — the
  * comparator on the engine's hottest scoring path (the blocker-pair
  * feature table, `matching/MatchingQueries.features`). A Scala UDF
  * here pays the catalyst→external row conversion and breaks the
  * WholeStageCodegen span around the feature projection; this
  * expression stays inside generated code ([[doGenCode]] emits a
  * direct static call on the two UTF8String operands), evaluates
  * null-intolerantly like the built-in `levenshtein`, and reuses the
  * exact [[graft.text.JaroWinkler]] kernel the oracle parity was
  * verified against (DuckDB `jaro_winkler_similarity`, 1528-pair
  * sample, 0 mismatches).
  */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // no ExpectsInputTypes: its inputTypes signature names the
  // private[sql] AbstractDataType; both call sites bind string columns
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaro_winkler_sim"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    graft.text.JaroWinkler.similarity(
      a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  protected override def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.text.JaroWinkler.similarity($a.toString(), $b.toString())")

  protected override def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernels for the token-array name scorers — called from
  * generated code by [[JaroPartsSim]] / [[OfacSim]]. Each replicates
  * the former Scala-UDF semantics EXACTLY (first-occurrence-order
  * `Seq.distinct`, left-to-right double summation), but operates on
  * the raw [[ArrayData]] without the catalyst→external row conversion
  * and Seq boxing the UDF paid per row.
  */
object NameScoreKernels {
  import org.apache.spark.sql.catalyst.util.ArrayData

  private def strings(a: ArrayData): Array[String] = {
    val n = a.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) { out(i) = a.getUTF8String(i).toString; i += 1 }
    out
  }

  /** First-occurrence-order dedup — `Seq.distinct` semantics. */
  private def distinct(a: Array[String]): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < a.length) { seen.add(a(i)); i += 1 }
    seen.toArray(new Array[String](seen.size))
  }

  /** jaro_name_parts (`name_based/names.py:35-59`): mean over distinct
    * left tokens of the best-over-distinct-right JW similarity, zeroed
    * when the best is ≤ 0.5.
    */
  def jaroParts(aa: ArrayData, bb: ArrayData): Double = {
    val qd = distinct(strings(aa))
    val rd = distinct(strings(bb))
    if (qd.length == 0) return 0.0
    var sum = 0.0
    var i = 0
    while (i < qd.length) {
      var best = 0.0
      var j = 0
      while (j < rd.length) {
        val s = graft.text.JaroWinkler.similarity(qd(i), rd(j))
        if (s > best) best = s
        j += 1
      }
      if (best > 0.5) sum += best
      i += 1
    }
    sum / math.max(1.0, qd.length.toDouble)
  }

  /** OFAC name score (`name_based/ofac.py:106-147`): max of the
    * first-letter-gated whole-string SimMetrics-JW and the per-token
    * best-pairing mean with a 0.5 floor and short-token drop.
    */
  def ofac(aa: ArrayData, bb: ArrayData): Double = {
    val q = strings(aa)
    val r = strings(bb)
    val qn = q.mkString(" ")
    val rn = r.mkString(" ")
    val whole =
      if (qn.isEmpty || rn.isEmpty || qn.charAt(0) != rn.charAt(0)) 0.0
      else graft.text.JaroWinkler.simmetrics(qn, rn)
    val kept0 = q.filter(_.length > 2)
    val kept = if (kept0.nonEmpty) kept0 else q
    val per =
      if (kept.length == 0 || r.length == 0) 0.0
      else {
        var sum = 0.0
        var i = 0
        while (i < kept.length) {
          var best = 0.0
          var j = 0
          while (j < r.length) {
            val s = graft.text.JaroWinkler.simmetrics(kept(i), r(j))
            if (s > best) best = s
            j += 1
          }
          if (best >= 0.5) sum += best
          i += 1
        }
        sum / kept.length
      }
    math.max(whole, per)
  }
}

/** `jaro_name_parts` over two string-array columns as a native codegen
  * expression — the former Scala UDF broke the WholeStageCodegen span
  * of the trio-scorer projection and converted both token arrays to
  * external Seqs per row.
  */
case class JaroPartsSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaro_parts_sim"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    NameScoreKernels.jaroParts(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  protected override def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.NameScoreKernels.jaroParts($a, $b)")

  protected override def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** OFAC name score over two string-array columns — see [[JaroPartsSim]]. */
case class OfacSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ofac_sim"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    NameScoreKernels.ofac(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  protected override def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.NameScoreKernels.ofac($a, $b)")

  protected override def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static case-mapping kernels for [[CaseMap]]: exactly what Spark's
  * UTF8_BINARY `lower`/`upper` compute. With ICU case mappings on (the
  * `spark.sql.icu.caseMappings.enabled` default) that is the ASCII fast
  * path, else ICU's `UCharacter` mapping of the string with invalid
  * UTF-8 replaced; with them off, `UTF8String`'s own JDK mapping.
  *
  * Spark reaches the ICU branch through `CollationAwareUTF8String`,
  * whose static initializer title-cases every code point (1,114,112
  * ICU word BreakIterators, ~2 s of CPU and a large allocation burst)
  * on the first `lower`/`upper` of the JVM, although UTF8_BINARY
  * mapping never reads that table. These kernels call the same
  * `UCharacter` methods directly and never load that class.
  */
object CaseKernels {
  def lower(v: UTF8String, icu: Boolean): UTF8String =
    if (!icu) v.toLowerCase
    else if (v.isFullAscii) v.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(v.toValidString))

  def upper(v: UTF8String, icu: Boolean): UTF8String =
    if (!icu) v.toUpperCase
    else if (v.isFullAscii) v.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(v.toValidString))
}

/** `lower`/`upper` of a UTF8_BINARY string through [[CaseKernels]].
  * Its name, SQL text and type rules are those of Spark's `Lower` and
  * `Upper`, so auto-generated column names and answers do not change;
  * like them it reads the ICU flag from the session conf when first
  * evaluated. A collated string fails analysis instead of being mapped
  * with binary semantics.
  */
case class CaseMap(child: Expression, upper: Boolean)
    extends UnaryExpression with String2StringExpression {

  private lazy val icu: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (upper) "upper" else "lower"
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess if child.dataType != StringType =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName maps UTF8_BINARY strings only, not ${child.dataType}")
      case r => r
    }

  override def convert(v: UTF8String): UTF8String =
    if (upper) CaseKernels.upper(v, icu) else CaseKernels.lower(v, icu)

  protected override def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CaseKernels.$prettyName($c, $icu)")

  protected override def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Column-API entry points for the native text expressions. */
object TextExpressions {
  def jaroWinkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinklerSim(
      Bridge.expression(a), Bridge.expression(b)))

  def jaroParts(a: Column, b: Column): Column =
    Bridge.column(JaroPartsSim(
      Bridge.expression(a), Bridge.expression(b)))

  def ofacName(a: Column, b: Column): Column =
    Bridge.column(OfacSim(
      Bridge.expression(a), Bridge.expression(b)))

  /** The `(field, token, counted)` rows of one statement, through
    * [[EntityTokens]]; a generator, so it names its three columns.
    */
  def entityTokens(propType: Column, value: Column): Column =
    Bridge.column(EntityTokens(
      Bridge.expression(propType), Bridge.expression(value)))

  /** Spark's `lower`, through [[CaseMap]]. */
  def lower(c: Column): Column =
    Bridge.column(CaseMap(Bridge.expression(c), upper = false))

  /** Spark's `upper`, through [[CaseMap]]. */
  def upper(c: Column): Column =
    Bridge.column(CaseMap(Bridge.expression(c), upper = true))
}
