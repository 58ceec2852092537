package graft.store

import org.scalatest.funsuite.AnyFunSuite

/** MergeLake: upsert-on-id resolve, O(delta) appends, and
  * touched-bucket-only compaction.
  */
class MergeLakeSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tempDir}
  import spark.implicits._

  private def row(id: String, value: String, seen: String) =
    (id, id.split("#")(0), "Thing", id.split("#")(1), value, seen)

  private def df(rows: (String, String, String)*) =
    rows.map(r => row(r._1, r._2, r._3))
      .toDF("stmt_id", "id", "schema", "field", "value", "last_seen")

  private def stateOf(path: String): Set[(String, String, String)] =
    MergeLake.snapshot(spark, path)
      .select("stmt_id", "value", "last_seen")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet

  test("append upserts on stmt_id and compact preserves the resolve") {
    val path = tempDir("mergelake") + "/lake"
    MergeLake.init(df(
      ("a#name", "Alice", "v1"),
      ("b#name", "OLD Bob", "v1"),
      ("c#name", "Carol", "v1")), path, nBuckets = 4)
    // one batch updates b and inserts d; a later batch re-updates d
    MergeLake.append(df(
      ("b#name", "Bob", "v2"),
      ("d#name", "Dan", "v2")), path)
    MergeLake.append(df(("d#name", "Daniel", "v3")), path)
    val expected = Set(
      ("a#name", "Alice", "v1"),
      ("b#name", "Bob", "v2"),
      ("c#name", "Carol", "v1"),
      ("d#name", "Daniel", "v3"))
    assert(stateOf(path) === expected) // merge-on-read resolve
    val touched = MergeLake.compact(spark, path)
    assert(touched.nonEmpty)
    assert(stateOf(path) === expected) // compaction is state-preserving
    // all deltas folded: a fresh append gets seq 1 again
    assert(MergeLake.append(df(("e#name", "Eve", "v4")), path) === 1)
    assert(stateOf(path) === expected + (("e#name", "Eve", "v4")))
  }

  test("compact rewrites only the buckets the deltas touched") {
    val path = tempDir("mergelake") + "/lake"
    // many buckets so the single-row delta cannot touch them all
    val base = (1 to 64).map(i => (s"e$i#name", s"N$i", "v1"))
    MergeLake.init(df(base: _*), path, nBuckets = 16)
    MergeLake.append(df(("e1#name", "N1b", "v2")), path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = MergeLake.readManifest(spark, root)
    // mtimes of every base bucket dir across generations — untouched
    // buckets must keep their exact files through the compaction
    def mtimes(m: MergeLake.Manifest): Map[Int, Long] =
      m.bucketDirs.map { case (k, d) =>
        val p = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(root, d), s"bucket=$k")
        k -> fs.listStatus(p).map(_.getModificationTime).max
      }
    val mtBefore = mtimes(before)
    Thread.sleep(20)
    val touched = MergeLake.compact(spark, path)
    val after = MergeLake.readManifest(spark, root)
    assert(touched.size < 16, "a one-row delta must not touch every bucket")
    assert(after.deltas.isEmpty)
    val untouched = before.bucketDirs.keySet -- touched.toSet
    assert(untouched.nonEmpty)
    // untouched buckets keep their old generation pointer AND files
    untouched.foreach { k =>
      assert(after.bucketDirs(k) === before.bucketDirs(k),
        s"untouched bucket $k was repointed")
      assert(mtimes(after)(k) === mtBefore(k),
        s"untouched bucket $k was rewritten")
    }
    touched.foreach(k => assert(after.bucketDirs(k) !== before.bucketDirs(k),
      s"touched bucket $k still points at the old generation"))
  }

  test("repeated partial folds keep the base-generation count bounded") {
    val path = tempDir("mergelake") + "/lake"
    val base = (1 to 64).map(i => (s"e$i#name", s"N$i", "v1"))
    MergeLake.init(df(base: _*), path, nBuckets = 16)
    val root = new org.apache.hadoop.fs.Path(path)
    def gens(): Int = MergeLake.readManifest(spark, root)
      .bucketDirs.values.toSet.size
    // single-row deltas hitting DIFFERENT buckets: each partial fold
    // re-owns only its delta's bucket, so without the maxGens guard
    // every cycle would strand one more surviving generation — one
    // extra scan leg in every later snapshot read, forever
    var expected = base.map(r => (r._1, r._2, r._3)).toSet
    for (k <- 1 to 8) {
      val id = s"e$k#name"
      MergeLake.append(df((id, s"N${k}b", s"v${k + 1}")), path)
      expected = expected.filterNot(_._1 == id) +
        ((id, s"N${k}b", s"v${k + 1}"))
      MergeLake.compact(spark, path, maxGens = 3)
      assert(gens() <= 3, s"generation count ${gens()} after fold $k")
      assert(stateOf(path) === expected,
        s"fold $k changed the resolved state")
    }
  }

  test("snapshot stays exchange-free on the base side") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val path = tempDir("mergelake") + "/lake"
    val base = (1 to 200).map(i => (s"e$i#name", s"N$i", "v1"))
    MergeLake.init(df(base: _*), path, nBuckets = 8)
    MergeLake.compact(spark, path) // no deltas: no-op
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect { case e: ShuffleExchangeExec => e }
    // post-compact (no deltas): a bare pruned scan, zero Exchange
    val clean = MergeLake.snapshot(spark, path)
      .queryExecution.executedPlan
    assert(shuffles(clean).isEmpty,
      s"delta-free snapshot plans a shuffle:\n$clean")
    // with a small delta: the base never shuffles — every shuffle in
    // the plan reads ONLY delta files (the Δ-sized resolve window),
    // and the base is kept behind a broadcast anti-join
    MergeLake.append(df(("e1#name", "N1b", "v2")), path)
    val plan = MergeLake.snapshot(spark, path)
      .queryExecution.executedPlan
    assert(plan.toString.contains("LeftAnti"),
      s"snapshot lost the anti-join decomposition:\n$plan")
    val offenders = shuffles(plan).flatMap { ex =>
      ex.collect { case scan: FileSourceScanExec => scan }
        .filterNot(_.relation.location.rootPaths
          .forall(_.toString.contains("/delta-")))
    }
    assert(offenders.isEmpty,
      s"corpus-sized data under a shuffle in the snapshot plan:\n$plan")
  }
}
