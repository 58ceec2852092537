package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned statement store: dataset × version snapshot directories
  * with a `latest` pointer and ADD/MOD/DEL deltas between versions —
  * the batch form of the reference's versioned KV store
  * (`store/versioned.py:62-153`, delta ops `delta.py:1-4`).
  *
  * Layout: `base/<dataset>/<version>/` parquet snapshots (statements
  * deduped on `id` — the upsert semantics of the SQL writer,
  * `store/sql.py:90-177`), plus `base/<dataset>/LATEST` holding the
  * released version name. At scale each snapshot is a partitioned
  * parquet table; `release` is a pointer flip, so readers never observe
  * a half-written version (the reference's release semantics).
  */
final class VersionedStore(base: String) {

  private def dir(dataset: String, version: String): String =
    s"$base/$dataset/$version"

  private def latestFile(dataset: String) = Paths.get(s"$base/$dataset/LATEST")

  /** Upsert-write a snapshot: statements deduped on id. The survivor is
    * deterministic (min over the full remaining row) — `dropDuplicates`
    * keeps whichever row a run sees first, so two writes of the same
    * input could persist different schema/external columns for a
    * colliding id (the FtM statement key omits both).
    */
  def write(stmts: DataFrame, dataset: String, version: String): Unit = {
    val others = stmts.columns.filter(_ != "id")
    stmts.groupBy(col("id"))
      .agg(min(struct(others.map(col): _*)).as("m"))
      .select(col("id") +: others.map(c => col(s"m.$c").as(c)): _*)
      .write.mode("overwrite")
      .parquet(dir(dataset, version))
  }

  /** Flip the latest pointer (reference `release_version`). */
  def release(dataset: String, version: String): Unit = {
    Files.createDirectories(Paths.get(s"$base/$dataset"))
    Files.writeString(latestFile(dataset), version)
  }

  def latest(dataset: String): Option[String] = {
    val p = latestFile(dataset)
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  def versions(dataset: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val p = Paths.get(s"$base/$dataset")
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_ != "LATEST").toSeq.sorted
      finally s.close()
    }
  }

  /** Read a version (default: released latest). */
  def read(s: SparkSession, dataset: String,
      version: Option[String] = None): DataFrame = {
    val v = version.orElse(latest(dataset)).getOrElse(
      throw new IllegalStateException(s"no released version for $dataset"))
    s.read.parquet(dir(dataset, v))
  }

  /** Drop a version directory (reference `drop_version`). */
  def drop(dataset: String, version: String): Unit = {
    import scala.jdk.CollectionConverters._
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.toList.foreach(rm) finally s.close()
      }
      Files.deleteIfExists(p)
    }
    rm(Paths.get(dir(dataset, version)))
  }

  /** ADD/MOD/DEL change feed between two versions (`delta.py:1-4`):
    * per-entity statement-set digests compared with one full outer join.
    */
  def delta(s: SparkSession, dataset: String, fromV: String,
      toV: String): DataFrame = {
    // digest covers id + schema + external: the FtM statement id hashes
    // only (dataset, entity_id, prop, value), so a schema correction or
    // an external-flag flip would otherwise compare SAME and never
    // reach change-feed consumers
    def digests(v: String): DataFrame =
      s.read.parquet(dir(dataset, v))
        .groupBy(col("canonical_id"))
        .agg(md5(concat_ws("|", array_sort(collect_list(concat_ws(":",
          col("id"), col("schema"), col("external").cast("string"))))))
          .as("digest"))
    VersionedStore.deltaOps(
      digests(fromV), digests(toV), "canonical_id")
  }
}

object VersionedStore {

  /** Digest-compare two per-entity digest frames (id, digest) into the
    * ADD/MOD/DEL feed — one full outer join, no content ships, only
    * digests (the scale property: the change feed between two 100 TB
    * snapshots moves two slim digest tables).
    */
  def deltaOps(from: DataFrame, to: DataFrame, idCol: String): DataFrame = {
    val a = from.withColumnRenamed("digest", "d_from")
    val b = to.withColumnRenamed("digest", "d_to")
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("d_from").isNull, "ADD")
          .when(col("d_to").isNull, "DEL")
          .when(col("d_from") =!= col("d_to"), "MOD")
          .otherwise("SAME").as("op"))
      .filter(col("op") =!= "SAME")
  }

  /** [[deltaOps]] specialized to the snapshot-diff shape where BOTH
    * versions derive from one statement frame — "from" is the rows
    * satisfying `fromCond`, "to" is every row. Both digests then ride
    * a single groupBy(id) over a single scan (a conditional
    * collect_list drops the null entries the condition masks, exactly
    * like filtering first), instead of two scans + two aggregations +
    * a full-outer join: 4 Exchanges → 1, and the join disappears.
    * DEL is unreachable by construction (from ⊆ to in id space), and
    * each digest is the md5 of the version's sorted `field=value`
    * entries joined by `|`, so the output is bit-identical to the
    * two-sided form over those digests — PROVIDED `id` is
    * non-null: the two-sided full-outer join never matches null keys
    * (emitting separate ADD+DEL rows for a null-id group) while this
    * groupBy folds them into one row. Every current caller feeds
    * non-null ids by construction.
    */
  def deltaOpsOnePass(stmts: DataFrame,
      fromCond: org.apache.spark.sql.Column): DataFrame = {
    val entry = concat(col("field"), lit("="), col("value"))
    stmts.groupBy(col("id"))
      .agg(
        md5(concat_ws("|", array_sort(collect_list(entry)))).as("d_to"),
        md5(concat_ws("|", array_sort(collect_list(
          when(fromCond, entry))))).as("d_from"),
        max(when(fromCond, 1).otherwise(0)).as("in_from"))
      .select(col("id"),
        when(col("in_from") === 0, "ADD")
          .when(col("d_from") =!= col("d_to"), "MOD")
          .otherwise("SAME").as("op"))
      .filter(col("op") =!= "SAME")
  }
}
