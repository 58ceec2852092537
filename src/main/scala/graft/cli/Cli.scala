package graft.cli

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.resolver.Resolver
import graft.store.{EntityStore, StatementFormats}
import graft.xref.Xref

/** The shared pieces of the [[Nk]] verbs and the other mains (Bench,
  * Verify, Soak, tools): the one session entry, statement input and the
  * canonical-map rewrite.
  */
object CliArgs {
  /** The one SparkSession entry of every driver. A live active or
    * default session (a spec's shared one, a host application's) is
    * returned untouched — `getOrCreate` on it would overwrite its
    * runtime confs with this builder's. A session built here gets
    * single-node defaults, each overridden by a spark-submit (or
    * `-Dspark.*`) setting: master `local[$SPARK_GRAFT_CPUS]` (every
    * core when unset), one shuffle partition per core, UTC, no UI and
    * a bounded plan string.
    */
  def session(app: String): SparkSession =
    Seq(SparkSession.getActiveSession, SparkSession.getDefaultSession)
      .flatten.find(!_.sparkContext.isStopped).getOrElse {
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString)
        val b = SparkSession.builder().appName(s"graft-$app")
        Seq("spark.master" -> s"local[$cpus]",
          "spark.sql.shuffle.partitions" -> cpus,
          "spark.sql.session.timeZone" -> "UTC",
          "spark.ui.enabled" -> "false",
          "spark.sql.maxPlanStringLength" -> "65536")
          .filterNot { case (k, _) => sys.props.contains(k) }
          .foreach { case (k, v) => b.config(k, v) }
        val s = b.getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }

  /** Entities/statements input → the 14-column statement table:
    * `.ijson`/`.json` is line-delimited FtM entities, `.csv` a
    * statement CSV ([[StatementFormats]]), anything else a
    * statement-table Parquet path.
    */
  def readStatements(s: SparkSession, path: String,
      dataset: String): DataFrame =
    if (path.endsWith(".ijson") || path.endsWith(".json"))
      EntityStore.statements(EntityStore.readIjson(s, path), dataset)
    else if (path.endsWith(".csv")) StatementFormats.readCsv(s, path)
    else s.read.parquet(path)

  /** Id precedence for canonical selection: QID > NK- > raw
    * (`resolver/identifier.py:11-27`).
    */
  def idWeight(id: Column): Column =
    when(id.rlike("^Q[0-9]+$"), 3)
      .when(id.startsWith("NK-"), 2).otherwise(1)

  /** Canonicalize a full statement table through a (member, canonical)
    * map: rewrite `canonical_id` and entity-reference values
    * (`resolver/linker.py:91-133` apply_statement). The map broadcasts;
    * statements never shuffle.
    */
  def applyCanonical(stmts: DataFrame, cm: DataFrame): DataFrame = {
    val byId = broadcast(cm.select(col("member"),
      col("canonical").as("_new_cid")))
    val byVal = broadcast(cm.select(col("member").as("_vmember"),
      col("canonical").as("_new_val")))
    stmts
      .join(byId, stmts("canonical_id") === byId("member"), "left_outer")
      .withColumn("canonical_id",
        coalesce(col("_new_cid"), col("canonical_id")))
      .drop("member", "_new_cid")
      .join(byVal, col("prop_type") === "entity" &&
        col("value") === col("_vmember"), "left_outer")
      .withColumn("value", coalesce(col("_new_val"), col("value")))
      .drop("_vmember", "_new_val")
  }

  /** Positive edges → transitive canonical map. */
  def canonicalMapOf(edges: DataFrame): DataFrame = {
    val cc = Resolver.connectedComponents(edges.select("src", "dst"))
    Resolver.canonicalMap(cc, idWeight)
  }

  def xrefConfig(flags: Map[String, String]): Xref.Config =
    Xref.Config(
      limit = flags.get("limit").map(_.toInt).getOrElse(5000),
      discountInternal =
        flags.get("discount-internal").map(_.toDouble).getOrElse(0.7),
      autoThreshold = flags.get("auto-threshold").map(_.toDouble),
      algorithm = flags.getOrElse("algorithm",
        graft.matching.Algorithms.default.name))
}
