package graft.store

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Two concurrent writers racing a MergeLake publish. The lake assumes
  * a SINGLE concurrent writer in production (class doc) — these specs
  * pin the failure mode when that assumption breaks: the loser fails
  * LOUDLY (never silently clobbers or loses a committed manifest), the
  * lake reads consistently at every step, the loser's orphan data
  * directory is invisible and eventually GC'd, and a plain retry of
  * the losing operation lands its data.
  *
  * The interleaving is driven deterministically through the
  * `publish-staged` failpoint: the loser stages its manifest tmp file,
  * then the winner's complete operation runs inside the hook, then the
  * loser resumes into its exists()-check and must error.
  */
class MergeLakeRaceSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tempDir}
  import spark.implicits._

  private def df(rows: (String, String, String)*) =
    rows.map { case (id, v, seen) =>
      (id, id.split("#")(0), "Thing", id.split("#")(1), v, seen)
    }.toDF("stmt_id", "id", "schema", "field", "value", "last_seen")

  private def stateOf(path: String): Set[(String, String)] =
    MergeLake.snapshot(spark, path).select("stmt_id", "value")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def freshLake(): String = {
    val path = tempDir("mlrace") + "/lake"
    MergeLake.init(df(
      ("a#name", "Alice", "v1"),
      ("b#name", "Bob", "v1"),
      ("c#name", "Carol", "v1")), path, nBuckets = 4)
    path
  }

  private val base =
    Set(("a#name", "Alice"), ("b#name", "Bob"), ("c#name", "Carol"))

  test("two racing appends: loser fails loudly, retry lands its data") {
    val path = freshLake()
    val e = Failpoint.race {
      MergeLake.append(df(("a#name", "Alicia", "vA")), path)
    } {
      MergeLake.append(df(("b#name", "Bobby", "vB")), path)
    }
    assert(e.getMessage.contains("lost a race"),
      s"loser must fail loudly, got: ${e.getMessage}")
    // the winner's commit is intact; the loser's batch is invisible
    val afterRace = base - (("b#name", "Bob")) + (("b#name", "Bobby"))
    assert(stateOf(path) === afterRace, "race left an inconsistent read")
    // a plain retry of the losing batch lands it
    MergeLake.append(df(("a#name", "Alicia", "vA")), path)
    assert(stateOf(path) ===
      afterRace - (("a#name", "Alice")) + (("a#name", "Alicia")))
    // the loser's orphan delta dir (data written, never referenced) is
    // swept by the next compaction's GC
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphans0 = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("delta-")).length
    assert(orphans0 === 3, "expected winner+retry+orphan delta dirs")
    sys.props.put("graft.mergelake.retain", "1")
    try MergeLake.compact(spark, path)
    finally sys.props.remove("graft.mergelake.retain")
    val m = MergeLake.readManifest(spark, root)
    val live = m.bucketDirs.values.toSet ++ m.deltas.toSet
    val stray = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => (n.startsWith("delta-") || n.startsWith("base-")) &&
        !live(n))
    assert(stray.isEmpty, s"orphan dirs survived GC: ${stray.toSeq}")
    assert(stateOf(path) ===
      afterRace - (("a#name", "Alice")) + (("a#name", "Alicia")))
  }

  test("append racing a compact: compact loses loudly, retry folds all") {
    val path = freshLake()
    MergeLake.append(df(("b#name", "Bobby", "v2")), path)
    // the compact stages its manifest (after the re-read that would
    // have caught an EARLIER append), then the append commits first
    val e = Failpoint.race {
      MergeLake.compact(spark, path): Unit
    } {
      MergeLake.append(df(("d#name", "Dan", "v3")), path): Unit
    }
    assert(e.getMessage.contains("lost a race"),
      s"compact must fail loudly, got: ${e.getMessage}")
    // both committed writes survive; the half-compacted base is invisible
    val want = base - (("b#name", "Bob")) +
      (("b#name", "Bobby")) + (("d#name", "Dan"))
    assert(stateOf(path) === want, "race lost a committed append")
    // retry folds everything, including the batch that won the race
    assert(MergeLake.compact(spark, path).nonEmpty)
    assert(stateOf(path) === want)
    assert(MergeLake.readManifest(spark, new Path(path)).deltas.isEmpty)
  }

  test("lake initialized from an empty frame stays readable") {
    // the day-0 stream shape: zero rows at init, data arrives later
    val path = tempDir("mlrace") + "/lake"
    MergeLake.init(df().limit(0), path, nBuckets = 4)
    assert(stateOf(path) === Set.empty)
    MergeLake.append(df(("a#name", "Alice", "v2")), path)
    assert(stateOf(path) === Set(("a#name", "Alice")))
    MergeLake.compact(spark, path)
    assert(stateOf(path) === Set(("a#name", "Alice")))
  }

  test("null upsert key fails fast with a clear error") {
    val path = freshLake()
    val bad = Seq(("x#name", "x", "Thing", "name", "X", "v9"))
      .toDF("stmt_id", "id", "schema", "field", "value", "last_seen")
      .withColumn("stmt_id", org.apache.spark.sql.functions.lit(null)
        .cast("string"))
    val e = intercept[Exception](MergeLake.append(bad, path))
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("null upsert key")),
      s"wanted the fail-fast message, got: ${causes(e)}")
    assert(stateOf(path) === base, "failed append leaked state")
  }
}
