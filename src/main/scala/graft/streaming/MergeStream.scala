package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.store.MergeLake

/** Streaming ingest twin of the batch MERGE lake: arriving statement
  * micro-batches are upserted into a [[MergeLake]] via `foreachBatch`
  * — each micro-batch is one O(delta) delta-append, so a continuous
  * feed costs exactly its own volume and the lake stays readable
  * (merge-on-read) throughout; compaction remains a separate,
  * scheduled concern exactly as in batch. This is the streaming form
  * of the reference's SQLWriter batch flush (`store/sql.py:90-177`
  * accumulates a batch set and upserts per flush — a micro-batch IS
  * that flush).
  *
  * Exactly-once note: `foreachBatch` gives at-least-once delivery on
  * retry; MergeLake appends are idempotent AT THE RESOLVE LEVEL only
  * if the retried batch carries the same rows (last-writer-wins per
  * stmt_id makes a duplicate append a no-op for the resolved
  * snapshot). A production sink would also key the delta dir on
  * `batchId` to make the write itself idempotent; the twin keeps the
  * simple form and the spec asserts resolve-level equivalence.
  */
object MergeStream {

  /** Attach the merge-lake sink to a statement stream. */
  def sink(stmts: DataFrame, path: String): DataStreamWriter[Row] =
    stmts.writeStream
      .outputMode("append")
      // default micro-batch trigger: a long-lived ingest query; run a
      // drain-and-stop load with .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) MergeLake.append(batch, path): Unit
      }
}
