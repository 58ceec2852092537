package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The statement CSV file format: a round-trip of the 14-column
  * statement schema (reference `cli.py:322-334` statement read/write
  * via the FORMATS registry). `nk` reads a `.csv` statement input and
  * `nk apply` writes a `.csv` output through it.
  */
object StatementFormats {

  val csvSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("entity_id", StringType),
    StructField("canonical_id", StringType),
    StructField("prop", StringType),
    StructField("prop_type", StringType),
    StructField("schema", StringType),
    StructField("value", StringType),
    StructField("original_value", StringType),
    StructField("dataset", StringType),
    StructField("origin", StringType),
    StructField("lang", StringType),
    StructField("external", BooleanType),
    StructField("first_seen", TimestampType),
    StructField("last_seen", TimestampType)))

  // \N distinguishes SQL NULL from the empty string (Spark's CSV default
  // reads "" back as null); multiLine handles values with embedded
  // newlines (addresses), which the writer quotes.
  private val csvOptions = Map(
    "header" -> "true", "nullValue" -> "\\N", "escape" -> "\"",
    "multiLine" -> "true")

  /** Timestamps are written to the microsecond: Spark's default CSV
    * pattern keeps milliseconds, and [[readCsv]]'s default parsing
    * reads the longer form back exactly.
    */
  def writeCsv(stmts: DataFrame, path: String): Unit =
    stmts.select(EntityStore.statementCols.map(col): _*)
      .write.mode("overwrite").options(csvOptions)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .csv(path)

  def readCsv(s: SparkSession, path: String): DataFrame =
    s.read.options(csvOptions).schema(csvSchema).csv(path)
}
