package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-provided synthetic tables (TESTDATA.md).
  *
  * All operators take the scale-factor directory as a parameter so the
  * same code runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench) —
  * and, unchanged, against a 100 TB lake: the reads are plain parquet
  * scans, so Catalyst pushes filters/projections into the scan and
  * partition pruning applies when the lake is partitioned.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The ANALYZED reader frame, memoized per (session, dir) in
    * [[Caches.memo]]. Every bare `spark.read.parquet(path)` runs a
    * driver-launched footer/schema job before the plan even exists
    * (measured ~25-40 ms each; a multi-table query paid 4-7 of them per
    * CALL, q_blk_index_add's census showed 7 before the first real
    * stage). The plan is immutable and lazy — memoizing it reuses the
    * resolved schema and file listing without touching row data, so no
    * result ever persists across runs. `Caches.clearAll` drops the memo
    * when a data dir is regenerated mid-session.
    */
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    Caches.memo(spark, sfDir, s"$table.parquet")(
      spark.read.parquet(s"$sfDir/$table.parquet"))

  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  /** `events.ts` arrives as parquet TIMESTAMP in either physical form the
    * driver has generated across rounds — NANOS (which Spark 4 rejects by
    * default; the legacy flag reads it as nanos-since-epoch LONG) or
    * MICROS with isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Both are
    * normalized to one engine-internal column: `ts_ns`, int64
    * nanos-since-epoch at microsecond precision — matching DuckDB's
    * `epoch_ns(ts)` on the same file, which is what the oracle SQL uses.
    * The NTZ branch converts via timestampdiff from the epoch, so the
    * result is independent of the session time zone.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events").withColumnRenamed("ts", "ts_ns")
    raw.schema("ts_ns").dataType match {
      case LongType => // TIMESTAMP(NANOS): truncate sub-microsecond digits
        raw.withColumn("ts_ns", col("ts_ns") - col("ts_ns") % 1000)
      case TimestampType => // instant semantics: epoch micros directly
        raw.withColumn("ts_ns", expr("unix_micros(ts_ns) * 1000"))
      case _ => // TIMESTAMP_NTZ: wall-clock-as-UTC, tz-independent
        raw.withColumn("ts_ns", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts_ns) * 1000"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
