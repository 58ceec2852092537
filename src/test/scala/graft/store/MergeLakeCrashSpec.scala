package graft.store

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Crash-atomicity of the MergeLake publish protocol: the failpoint
  * hook kills the writer between every side-effect step, and the lake
  * must read as EXACTLY the before-state (crash before the manifest
  * rename) or the after-state (crash after it) — never a hybrid — and
  * a replay of the crashed operation must converge.
  */
class MergeLakeCrashSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tempDir}
  import spark.implicits._

  private def df(rows: (String, String, String)*) =
    rows.map { case (id, v, seen) =>
      (id, id.split("#")(0), "Thing", id.split("#")(1), v, seen)
    }.toDF("stmt_id", "id", "schema", "field", "value", "last_seen")

  private def stateOf(path: String): Set[(String, String)] =
    MergeLake.snapshot(spark, path).select("stmt_id", "value")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def crashAt[A](step: String)(op: => A): Unit = {
    ManifestLog.onStep = s =>
      if (s == step) throw new RuntimeException(s"injected crash at $s")
    try {
      val e = intercept[RuntimeException](op)
      assert(e.getMessage.contains("injected crash"))
    } finally ManifestLog.onStep = _ => ()
  }

  private def freshLake(): String = {
    val path = tempDir("mlcrash") + "/lake"
    MergeLake.init(df(
      ("a#name", "Alice", "v1"),
      ("b#name", "Bob", "v1"),
      ("c#name", "Carol", "v1")), path, nBuckets = 4)
    path
  }

  private val base =
    Set(("a#name", "Alice"), ("b#name", "Bob"), ("c#name", "Carol"))

  test("crash before the init publish: unreadable, re-init recovers") {
    val path = tempDir("mlcrash") + "/lake"
    crashAt("init-written")(MergeLake.init(df(("a#name", "Alice", "v1")),
      path, nBuckets = 4))
    // no manifest was ever committed — readers refuse loudly
    val e = intercept[IllegalArgumentException](stateOf(path))
    assert(e.getMessage.contains("no manifest"))
    MergeLake.init(df(("a#name", "Alice", "v1")), path, nBuckets = 4)
    assert(stateOf(path) === Set(("a#name", "Alice")))
  }

  test("crash before the append publish: old state reads; replay lands") {
    val path = freshLake()
    crashAt("append-written")(
      MergeLake.append(df(("b#name", "Bobby", "v2")), path))
    assert(stateOf(path) === base, "orphan delta became visible")
    // replay the batch — the orphan dir must not collide or resurface
    MergeLake.append(df(("b#name", "Bobby", "v2")), path)
    assert(stateOf(path) === base - (("b#name", "Bob")) + (("b#name", "Bobby")))
  }

  test("crash between compact write and publish: deltas stay live") {
    val path = freshLake()
    MergeLake.append(df(("b#name", "Bobby", "v2")), path)
    val resolved = base - (("b#name", "Bob")) + (("b#name", "Bobby"))
    crashAt("compact-written")(MergeLake.compact(spark, path))
    assert(stateOf(path) === resolved, "half-compacted state surfaced")
    val m = MergeLake.readManifest(spark, new Path(path))
    assert(m.deltas.nonEmpty, "deltas vanished without a publish")
    // replay converges and folds the deltas
    assert(MergeLake.compact(spark, path).nonEmpty)
    assert(stateOf(path) === resolved)
    assert(MergeLake.readManifest(spark, new Path(path)).deltas.isEmpty)
  }

  test("crash after the compact publish: new state committed; GC later") {
    val path = freshLake()
    MergeLake.append(df(("b#name", "Bobby", "v2")), path)
    val resolved = base - (("b#name", "Bob")) + (("b#name", "Bobby"))
    crashAt("compact-published")(MergeLake.compact(spark, path))
    assert(stateOf(path) === resolved)
    val m = MergeLake.readManifest(spark, new Path(path))
    assert(m.deltas.isEmpty, "publish committed but deltas still listed")
    // replayed compact is a clean no-op on the already-committed state
    assert(MergeLake.compact(spark, path) === Seq.empty)
    assert(stateOf(path) === resolved)
    // the skipped GC is caught up by the next real compaction: with
    // the retention horizon collapsed to 1, nothing unreferenced by
    // the CURRENT manifest remains under the root afterwards
    sys.props.put("graft.mergelake.retain", "1")
    try {
      MergeLake.append(df(("d#name", "Dan", "v3")), path)
      MergeLake.compact(spark, path)
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val m2 = MergeLake.readManifest(spark, root)
      val live = m2.bucketDirs.values.toSet ++ m2.deltas.toSet
      val stray = fs.listStatus(root).map(_.getPath.getName).filter(n =>
        (n.startsWith("base-") || n.startsWith("delta-")) && !live(n))
      assert(stray.isEmpty, s"unreferenced dirs survived GC: ${stray.toSeq}")
      assert(stateOf(path) === resolved + (("d#name", "Dan")))
    } finally sys.props.remove("graft.mergelake.retain")
  }

  test("GC retains the previous manifest horizon for in-flight readers") {
    val path = freshLake()
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeLake.append(df(("b#name", "Bobby", "v2")), path)
    // the manifest an in-flight reader holds while the compaction runs
    val before = MergeLake.readManifest(spark, root)
    MergeLake.compact(spark, path) // default retain=2: previous kept
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    // a reader that resolved the pre-compaction manifest still finds
    // the file AND every directory it references
    assert(names.exists(_.endsWith(f"manifest-${before.version}%08d")
      || names(f"manifest-${before.version}%08d")),
      s"previous manifest collected: $names")
    (before.bucketDirs.values.toSet ++ before.deltas).foreach {
      (d: String) =>
        assert(names(d), s"dir $d of the previous horizon collected") }
    // ... and one more compaction cycle retires it
    MergeLake.append(df(("c#name", "Carla", "v3")), path)
    MergeLake.compact(spark, path)
    val names2 = fs.listStatus(root).map(_.getPath.getName).toSet
    assert(!names2(f"manifest-${before.version}%08d"),
      "two-generations-old manifest survived")
    assert(stateOf(path) === base - (("b#name", "Bob")) -
      (("c#name", "Carol")) + (("b#name", "Bobby")) + (("c#name", "Carla")))
  }
}
