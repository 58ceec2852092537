package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.resolver.Resolver

/** Incremental resolution: edge batches folded one at a time into the
  * persisted state (as `nk resolve-state add` and the loop's decide
  * stage fold them) must resolve to EXACTLY the components a full batch
  * re-cluster of all edges produces — and each batch must write only
  * its affected rows.
  */
class ResolveStreamSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def ccMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("streamed edge batches resolve like one full re-cluster") {
    val path = SparkSpec.tempDir("resolvestream") + "/state"
    val base = Seq("b" -> "c", "c" -> "d", "f" -> "g", "x" -> "y")
    ResolveStream.init(
      Resolver.connectedComponents(base.toDF("src", "dst")), path,
      nBuckets = 4)

    // batch 1 merges two clusters through a new vertex; batch 2 adds an
    // isolated pair; batch 3 is a pure no-op replay of batch 1
    val batch1 = Seq("d" -> "n1", "n1" -> "g")
    val batch2 = Seq("p" -> "q")
    val batch3 = batch1

    for ((batch, i) <- Seq(batch1, batch2, batch3).zipWithIndex)
      ResolveStream.applyBatch(spark, batch.toDF("src", "dst"), path, s"b$i")

    val want = ccMap(Resolver.connectedComponents(
      (base ++ batch1 ++ batch2).toDF("src", "dst")))
    assert(ccMap(ResolveStream.state(spark, path)) === want)

    // the no-op replay wrote nothing: the manifest lists two deltas
    val m = graft.store.MergeLake.readManifest(spark,
      new org.apache.hadoop.fs.Path(path))
    assert(m.deltas.size === 2)
  }

  test("a batch's write set is only the affected members") {
    val base = Seq("b" -> "c", "x" -> "y")
    val cc = Resolver.connectedComponents(base.toDF("src", "dst"))
    val changed = Resolver
      .addEdgesChanged(cc, Seq("c" -> "a").toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // cluster {b,c} relabels to 'a' and 'a' is new; {x,y} untouched
    assert(changed === Map("b" -> "a", "c" -> "a", "a" -> "a"))
  }
}
