package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The stored-index lake: artifacts publish to disk once, later
  * sessions read them, clearing/invalidation is safe mid-session —
  * every index rebuilds on next use with identical results.
  */
class CachesSpec extends AnyFunSuite {
  import SparkSpec.spark

  val dir = "/root/testdata/sf0.001"

  /** `body` with the index lake rooted at `root`, every in-session
    * cache dropped on the way in and out.
    */
  private def withIndexRoot[A](root: String)(body: => A): A = {
    val prev = sys.props.get("graft.index.dir")
    sys.props.put("graft.index.dir", root)
    Caches.clearAll()
    try body
    finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.dir", v)
        case None => sys.props.remove("graft.index.dir")
      }
      Caches.clearAll()
    }
  }

  test("clearAll drops and rebuilds every stored-index cache") {
    val ivf = similarity.SimilarityQueries.queries("q_sim_ivf")
    val pairs = dedup.DedupQueries.queries("q_dedup_winnow")
    val before = (ivf(spark, dir).count(), pairs(spark, dir).count())
    Caches.clearAll()
    val after = (ivf(spark, dir).count(), pairs(spark, dir).count())
    assert(before === after)
  }

  test("clearAll releases the session pins and checkpoints it drops") {
    val sc = spark.sparkContext
    def touch(): Unit = {
      search.Search.postingsCk(spark, dir)
      dedup.DedupQueries.fpSetsCk(spark, dir)
      similarity.SimilarityQueries.nearPreparedCk(spark, dir)
    }
    // first touch publishes any missing artifact; the measured touch
    // below only reads the lake and pins the session copies
    touch()
    Caches.clearAll()
    val baseline = sc.getPersistentRDDs.size
    touch()
    assert(sc.getPersistentRDDs.size === baseline + 3)
    Caches.clearAll()
    assert(sc.getPersistentRDDs.size === baseline)
  }

  test("ensureAll publishes on-disk artifacts; reads match rebuilds") {
    val tmp = SparkSpec.tempDir("graft-index-spec")
    withIndexRoot(tmp) {
      Caches.ensureAll(spark, dir)
      val fp = IndexLake.fingerprint(dir)
      // every entry under the fingerprint is a published artifact with
      // its marker, and no losing writer's `.tmp-` sibling remains
      val entries = Paths.get(tmp, fp).toFile.listFiles().toSeq
      val published = entries.map(_.getName).toSet
      assert(!published.exists(_.contains(".tmp-")), published)
      for (e <- entries)
        assert(new java.io.File(e, "_SUCCESS").isFile,
          s"artifact ${e.getName} has no _SUCCESS")
      val names = Set("blocker_entries", "blocker_tf", "resolver_scores",
        "wd_snaks", "ivf_centroids", "pq_codebook", "pq_codes",
        "near_banded", "fp_sets", "fp_pos", "bpe_merges",
        // the four scenario lakes, so no timed query builds one
        "q_store_merge", "q_blk_index_add", "q_ref_index_add",
        "q_search_index_add")
      assert(names.subsetOf(published), names -- published)
      // a fresh memo (new session would do the same) reads the artifact
      // and the result matches a from-scratch rebuild bit-for-bit
      val viaDisk = blocker.BlockerQueries.tfCk(spark, dir)
        .orderBy("field", "token", "id").collect().toSeq
      Caches.clearAll()
      val reread = blocker.BlockerQueries.tfCk(spark, dir)
        .orderBy("field", "token", "id").collect().toSeq
      assert(viaDisk === reread)
      val rebuilt = blocker.BlockerQueries.tf(spark, dir)
        .orderBy("field", "token", "id").collect().toSeq
      assert(viaDisk === rebuilt)
      // invalidate wipes the fingerprint dir; next touch republishes
      IndexLake.invalidate(dir)
      assert(!Files.exists(Paths.get(tmp, fp, "blocker_tf", "_SUCCESS")))
      blocker.BlockerQueries.tfCk(spark, dir).count()
      assert(Files.exists(Paths.get(tmp, fp, "blocker_tf", "_SUCCESS")))
    }
  }

  test("a partial artifact (no _SUCCESS) is rebuilt, not served") {
    val tmp = SparkSpec.tempDir("graft-index-partial")
    withIndexRoot(tmp) {
      // plant a garbage directory where the artifact would live,
      // WITHOUT the _SUCCESS marker — a crashed writer's leftovers
      val dir = Paths.get(tmp, IndexLake.fingerprint(this.dir),
        "blocker_tf")
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-garbage.parquet"),
        Array[Byte](1, 2, 3))
      val viaLake = blocker.BlockerQueries.tfCk(spark, this.dir).count()
      val direct = blocker.BlockerQueries.tf(spark, this.dir).count()
      assert(viaLake === direct, "partial artifact must be rebuilt")
      assert(Files.exists(dir.resolve("_SUCCESS")))
    }
  }

  test("concurrent first-touch builders publish exactly one artifact") {
    val tmp = SparkSpec.tempDir("graft-index-race")
    withIndexRoot(tmp) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val counts = Await.result(
        Future.sequence((1 to 4).map(_ => Future {
          blocker.BlockerQueries.tfCk(spark, dir).count()
        })), 120.seconds)
      assert(counts.distinct.size === 1)
      val fp = IndexLake.fingerprint(dir)
      assert(Files.exists(Paths.get(tmp, fp, "blocker_tf", "_SUCCESS")))
      // no leftover temp dirs from losing racers
      val leftovers = Files.list(Paths.get(tmp, fp)).toArray
        .map(_.toString).filter(_.contains(".tmp-"))
      assert(leftovers.isEmpty, leftovers.mkString(","))
    }
  }

  test("artifacts publish and read through a file: URI root") {
    // the Hadoop-FS port: the root may be any Hadoop URI, not a bare
    // local path — hdfs://, s3a:// go through the same code path
    val tmp = SparkSpec.tempDir("graft-index-uri")
    withIndexRoot(s"file:$tmp") {
      val viaLake = blocker.BlockerQueries.tfCk(spark, dir).count()
      val fp = IndexLake.fingerprint(dir)
      assert(Files.exists(Paths.get(tmp, fp, "blocker_tf", "_SUCCESS")))
      Caches.clearAll()
      assert(blocker.BlockerQueries.tfCk(spark, dir).count() === viaLake)
    }
  }

  test("scenario lakes publish under the owned index root") {
    // a root that does not exist yet: the publish creates it 0700
    val tmp = SparkSpec.tempDir("graft-index-scenario") + "/root"
    def rows(): Seq[String] = store.StoreQueries.mergeQ(spark, dir)
      .collect().map(_.mkString("|")).toSeq.sorted
    withIndexRoot(tmp) {
      val built = rows()
      val lake = Paths.get(tmp, IndexLake.fingerprint(dir), "q_store_merge")
      assert(Files.exists(lake.resolve("_SUCCESS")))
      // the lake itself: four commits (init, two appends, the compaction)
      assert(store.MergeLake.currentVersion(spark, lake.toString) === 4)
      assert(java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(Paths.get(tmp))) === "rwx------")
      IndexLake.invalidate(dir)
      assert(!Files.exists(lake))
      assert(rows() === built)
      assert(Files.exists(lake.resolve("_SUCCESS")))
    }
  }

  test("gc retires stale generations, keeps the current and the young") {
    val tmp = SparkSpec.tempDir("graft-index-gc")
    withIndexRoot(tmp) {
      def mk(name: String, ageMs: Long): Unit = {
        val d = Paths.get(tmp, name, "some_artifact")
        Files.createDirectories(d)
        Files.write(d.resolve("part-0.parquet"), Array[Byte](1))
        val t = java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMs)
        Files.setLastModifiedTime(d.resolve("part-0.parquet"), t)
        Files.setLastModifiedTime(d, t)
        Files.setLastModifiedTime(Paths.get(tmp, name), t)
      }
      mk("aaaa00000000stal", 48L * 3600 * 1000) // stale
      mk("bbbb00000000kept", 48L * 3600 * 1000) // stale but kept
      mk("cccc00000000youn", 0L) // too young to collect
      val gone = IndexLake.gc(keep = Set("bbbb00000000kept"),
        maxAgeMs = 6L * 3600 * 1000)
      assert(gone === Seq("aaaa00000000stal"))
      assert(!Files.exists(Paths.get(tmp, "aaaa00000000stal")))
      assert(Files.exists(Paths.get(tmp, "bbbb00000000kept")))
      assert(Files.exists(Paths.get(tmp, "cccc00000000youn")))
    }
  }

  test("fingerprint tracks data-dir content") {
    val a = IndexLake.fingerprint(dir)
    assert(a === IndexLake.fingerprint(dir), "fingerprint is stable")
    assert(a !== IndexLake.fingerprint("/root/testdata/sf0.01"),
      "different dirs key different artifact sets")
  }
}
