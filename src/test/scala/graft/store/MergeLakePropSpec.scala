package graft.store

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property check of the MergeLake folds: seeded random sequences of
  * rounds, each one or two appends — fresh keys, re-upserts of live
  * keys with varying `last_seen` (in-batch duplicates included), empty
  * batches — then, most of the time, a compaction (`maxGens` = 2, so a
  * second compaction over a partially folded lake takes the full-fold
  * branch), on lakes bucketed by the upsert key or by the entity id.
  * The snapshot after init and after every round must equal a
  * from-scratch last-writer-wins of the same rows: the latest batch
  * wins per `stmt_id`, and within one batch the highest
  * (`last_seen`, `value`). Sampled generators directly, like
  * MatchPropsSpec.
  */
class MergeLakePropSpec extends AnyFunSuite {
  import graft.SparkSpec.{spark, tempDir}
  import spark.implicits._
  import MergeLakePropSpec._

  // the init draws from the first half of the key space, appends from
  // all of it: every append mixes fresh keys and re-upserts
  private def stmt(entities: Int): Gen[Stmt] = for {
    e <- Gen.chooseNum(0, entities - 1)
    f <- Gen.oneOf("name", "type")
    v <- Gen.oneOf("a", "b", "c")
    seen <- Gen.oneOf("v1", "v2", "v3")
  } yield (s"e$e#$f", v, seen)

  // small batches over 8 buckets: most folds are partial, so the next
  // compaction meets two base generations and folds the whole lake
  private val batch: Gen[Seq[Stmt]] = Gen.frequency(
    1 -> Gen.const(Seq.empty),
    4 -> Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, stmt(8))))

  private val round: Gen[Round] = for {
    appends <- Gen.chooseNum(1, 2).flatMap(Gen.listOfN(_, batch))
    compact <- Gen.frequency(2 -> true, 1 -> false)
  } yield Round(appends, compact)

  private val cases: Gen[Case] = for {
    byEntity <- Gen.oneOf(true, false)
    init <- Gen.frequency(1 -> Gen.const(Seq.empty),
      5 -> Gen.chooseNum(1, 5).flatMap(Gen.listOfN(_, stmt(4))))
    rounds <- Gen.listOfN(2, round)
  } yield Case(byEntity, init, rounds)

  private def frame(rows: Seq[Stmt]) =
    rows.map { case (id, v, seen) =>
      (id, id.split("#")(0), "Thing", id.split("#")(1), v, seen)
    }.toDF("stmt_id", "id", "schema", "field", "value", "last_seen")

  /** The from-scratch answer: batch position, then (last_seen, value). */
  private def lww(batches: Seq[Seq[Stmt]]): Seq[Stmt] =
    batches.zipWithIndex
      .flatMap { case (b, i) => b.map(r => (r, i)) }
      .groupBy(_._1._1).values
      .map(_.maxBy { case ((_, v, seen), i) => (i, seen, v) }._1)
      .toSeq.sorted

  private def snapshotOf(path: String): Seq[Stmt] =
    MergeLake.snapshot(spark, path)
      .select("stmt_id", "value", "last_seen").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq.sorted

  /** Run one case; returns how many of its compactions took the
    * full-fold branch (the lake already held `maxGens` generations).
    */
  private def run(c: Case, i: Int): Int = {
    val path = tempDir("mlprop") + "/lake"
    MergeLake.init(frame(c.init), path, nBuckets = 8,
      bucketBy = if (c.byEntity) "id" else "stmt_id")
    var batches = Seq(c.init)
    var fullFolds = 0
    assert(snapshotOf(path) === lww(batches), s"case $i after init: $c")
    c.rounds.zipWithIndex.foreach { case (r, j) =>
      r.appends.foreach { rows =>
        val v = MergeLake.currentVersion(spark, path)
        MergeLake.append(frame(rows), path)
        // an empty batch commits nothing
        if (rows.isEmpty) assert(MergeLake.currentVersion(spark, path) === v)
        batches :+= rows
      }
      if (r.compact) {
        val m = MergeLake.readManifest(spark, new Path(path))
        if (m.deltas.nonEmpty && m.bucketDirs.values.toSet.size >= 2)
          fullFolds += 1
        MergeLake.compact(spark, path, maxGens = 2)
      }
      assert(snapshotOf(path) === lww(batches), s"case $i round $j: $c")
    }
    fullFolds
  }

  test("every snapshot of a random fold sequence is last-writer-wins") {
    val sample = (1 to 25).flatMap(i =>
      cases.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(sample.size === 25)
    // each case is a chain of tiny jobs bound by per-job latency: four
    // cases at a time keep the shared session's cores busy
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val fullFolds =
      try Await.result(Future.traverse(sample.zipWithIndex) {
        case (c, i) => Future(run(c, i))
      }, 5.minutes).sum
      finally pool.shutdown()
    assert(fullFolds > 0, "no sequence reached the full-fold branch")
  }
}

object MergeLakePropSpec {
  /** (stmt_id, value, last_seen); stmt_id = `<entity>#<field>`. */
  type Stmt = (String, String, String)

  final case class Round(appends: Seq[Seq[Stmt]], compact: Boolean)

  final case class Case(byEntity: Boolean, init: Seq[Stmt],
      rounds: Seq[Round])
}
