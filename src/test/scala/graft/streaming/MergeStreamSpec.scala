package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.store.MergeLake

/** Streaming merge-lake ingest driven through MemoryStream: a stream
  * of statement micro-batches upserted via foreachBatch resolves to
  * EXACTLY the state the batch appends produce — the stream/batch
  * twin contract of the other gates, applied to the writer.
  */
class MergeStreamSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private def df(rows: (String, String, String)*) =
    rows.map { case (id, v, seen) =>
      (id, id.split("#")(0), "Thing", id.split("#")(1), v, seen) }
      .toDF("stmt_id", "id", "schema", "field", "value", "last_seen")

  private def stateOf(path: String): Set[(String, String, String)] =
    MergeLake.snapshot(spark, path)
      .select("stmt_id", "value", "last_seen")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet

  test("streamed micro-batch upserts resolve like batch appends") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("mergestream").toString
    val streamPath = s"$base/stream-lake"
    val batchPath = s"$base/batch-lake"
    val init = df(("a#name", "Alice", "v1"), ("b#name", "OLD Bob", "v1"))
    MergeLake.init(init, streamPath, nBuckets = 4)
    MergeLake.init(init, batchPath, nBuckets = 4)

    val batch1 = Seq(("b#name", "Bob", "v2"), ("c#name", "Carol", "v2"))
    val batch2 = Seq(("c#name", "Caroline", "v3"))

    // batch twin: two explicit appends
    MergeLake.append(df(batch1: _*), batchPath)
    MergeLake.append(df(batch2: _*), batchPath)

    // stream: the same rows as two micro-batches through the sink
    val src = MemoryStream[(String, String, String)]
    val stmts = src.toDF().toDF("stmt_id", "value", "last_seen")
      .selectExpr("stmt_id", "split(stmt_id, '#')[0] AS id",
        "'Thing' AS schema", "split(stmt_id, '#')[1] AS field",
        "value", "last_seen")
      .select("stmt_id", "id", "schema", "field", "value", "last_seen")
    src.addData(batch1: _*)
    val q = MergeStream.sink(stmts, streamPath).start()
    try {
      q.processAllAvailable()
      src.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val expected = Set(
      ("a#name", "Alice", "v1"),
      ("b#name", "Bob", "v2"),
      ("c#name", "Caroline", "v3"))
    assert(stateOf(streamPath) === expected)
    assert(stateOf(streamPath) === stateOf(batchPath))
  }
}
