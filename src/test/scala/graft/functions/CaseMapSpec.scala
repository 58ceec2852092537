package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** [[CaseMap]] computes Spark's own `lower`/`upper`, byte for byte: on
  * every code point from 0 to 0x10FFFF (batched into strings), on
  * invalid UTF-8 and on the context-sensitive mappings, with ICU case
  * mappings on and off, through generated code and through the
  * interpreted path.
  */
class CaseMapSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  /** Every code point but the surrogates, 64 to a string, so the first
    * two batches take the ASCII fast path and the rest do not.
    */
  private def codePoints: Seq[Array[Byte]] =
    (0 until 0x110000 by 64).map { start =>
      val b = new java.lang.StringBuilder
      (start until start + 64)
        .filterNot(cp => cp >= 0xD800 && cp <= 0xDFFF)
        .foreach(b.appendCodePoint)
      b.toString.getBytes(UTF_8)
    }

  /** Final sigma, dotted capital I, sharp s, titlecase digraphs, the
    * Kelvin sign, ligatures and combining dots, alone and in context.
    */
  private val contextual = Seq("Σ", "ΑΣ",
    "ΟΔΟΣ ΟΔΟΣ.", "ΑΣ΄",
    "aΣb", "Σa", "ὈΔΥΣΣΕΎΣ",
    "İ", "İstanbul", "Iİıi", "i̇", "İ",
    "ß", "STRAßE", "ẞ", "ǅ", "ǆ", "Ǆ",
    "ǅungla", "K", "Kelvin", "ﬁ", "ŉ", "ΐ",
    "Ꭰ", "ꭰ", "", "plain ascii", "MiXeD ascii 123")

  /** Bytes that are not UTF-8: stray continuation and lead bytes, an
    * overlong form, an encoded surrogate, a code point past U+10FFFF
    * and a truncated sequence, alone and among ASCII and Greek.
    */
  private val invalid: Seq[Array[Byte]] = Seq(
    Array(0xFF), Array(0x80), Array(0xC0, 0xAF), Array(0xED, 0xA0, 0x80),
    Array(0xF4, 0x90, 0x80, 0x80), Array(0x41, 0xC3),
    Array(0x61, 0x62, 0x80, 0x43), Array(0xCE, 0xA3, 0xFE, 0xCF, 0x82),
    Array(0xC3, 0x9F, 0xFF, 0x49))
    .map(_.map(_.toByte))

  private def rows: Seq[Array[Byte]] =
    codePoints ++ contextual.map(_.getBytes(UTF_8)) ++ invalid

  /** Rows where the kernel and Spark disagree, under the given ICU
    * flag and evaluation path. The input is an RDD scan, not a local
    * relation, so nothing is constant-folded away.
    */
  private def mismatches(icu: Boolean, codegen: Boolean): Seq[String] = {
    val confs = Map(
      "spark.sql.icu.caseMappings.enabled" -> icu.toString,
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" ->
        (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val before = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val s = col("b").cast("string")
      val df = spark.sparkContext.parallelize(rows, 4).toDF("b")
        .select(col("b"),
          TextExpressions.lower(s).as("kl"), F.lower(s).as("sl"),
          TextExpressions.upper(s).as("ku"), F.upper(s).as("su"))
      val kernels = df.queryExecution.optimizedPlan.expressions
        .flatMap(_.collect { case c: CaseMap => c })
      assert(kernels.size === 2, "both kernel columns survive optimization")
      if (codegen)
        assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
      df.filter(!(col("kl") <=> col("sl")) || !(col("ku") <=> col("su")))
        .limit(5).collect().toSeq
        .map(r => r.getAs[Array[Byte]]("b").map(b => f"${b & 0xFF}%02x").mkString)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (icu <- Seq(true, false); codegen <- Seq(true, false))
    test(s"equals Spark's lower/upper (icu=$icu, " +
        s"${if (codegen) "codegen" else "interpreted"})") {
      val bad = mismatches(icu, codegen)
      assert(bad.isEmpty, s"inputs (hex) mapped differently: $bad")
    }

  test("null stays null and keeps the column name Spark would give") {
    val df = Seq(Some("Ab"), None).toDF("s")
      .select(TextExpressions.lower(col("s")), TextExpressions.upper(col("s")))
    assert(df.columns.toSeq === Seq("lower(s)", "upper(s)"))
    val out = df.collect()
    assert(out(0).getString(0) === "ab" && out(0).getString(1) === "AB")
    assert(out(1).isNullAt(0) && out(1).isNullAt(1))
  }
}
