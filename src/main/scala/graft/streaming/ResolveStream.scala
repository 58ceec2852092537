package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.resolver.Resolver
import graft.store.MergeLake

/** Streaming incremental resolution, closing the streaming side of the
  * incremental loop (MERGE ingest → delta xref → decide): approved
  * same-as edges arrive as micro-batches and fold into a PERSISTED
  * cluster state via
  * [[Resolver.addEdgesChanged]] (reference `resolver/resolver.py:
  * 353-401`, the `_decide` recursion, which mutates its stored resolver
  * exactly like this — one edge batch at a time).
  *
  * The state itself is a [[MergeLake]] keyed on member id: each batch
  * upserts ONLY the members it relabeled plus new vertices —
  * O(affected members), never the full membership — and the lake's
  * last-writer-wins resolve reconstructs the current components on
  * read. Compaction stays the lake's separate scheduled concern. At
  * 100 TB this is the architecture the batch artifact can't give you:
  * the components artifact is write-once per corpus version, while the
  * judgement stream needs in-place growth with delta-sized writes.
  *
  * Exactly-once note: a stream's micro-batch sink (`nk loop-stream`,
  * [[LoopStream]]) delivers at least once on retry — but the fold is
  * idempotent at the state level: a replayed batch finds its edges
  * already intra-cluster (labels equal), the changed set comes back
  * empty, and nothing is written.
  */
object ResolveStream {

  /** (id, cluster) view of the stored resolver state. */
  def state(s: SparkSession, path: String): DataFrame =
    MergeLake.snapshot(s, path)
      .select(col("id"), col("value").as("cluster"))

  private def asRows(cc: DataFrame, seen: String): DataFrame =
    cc.select(concat(col("id"), lit("#cluster")).as("stmt_id"), col("id"),
      lit("Cluster").as("schema"), lit("cluster").as("field"),
      col("cluster").as("value"), lit(seen).as("last_seen"))

  /** Initialize the state lake from batch components. */
  def init(cc: DataFrame, path: String,
      nBuckets: Int = MergeLake.DefaultBuckets): Unit =
    MergeLake.init(asRows(cc, "v0"), path, nBuckets)

  /** Fold one edge batch `(src, dst)` into the stored state: compute
    * the changed members, upsert them. The write is O(affected).
    */
  def applyBatch(s: SparkSession, edges: DataFrame, path: String,
      seen: String): Unit = graft.Caches.holding { held =>
    // pin the merge-on-read resolve ONCE per batch: addEdgesChanged
    // consumes the state in 4-5 passes (touched slice ×3, final
    // relabel join) — even with the exchange-free snapshot, repeated
    // re-evaluation measured slower than one pinned materialization
    // (14-19 s vs 8-11 s per batch at 1M members in the resolve soak).
    // The Δ-sized changed set is pinned too: it is evaluated twice
    // (emptiness gate, then the append) and each evaluation would
    // otherwise re-run the relabel join over the full state.
    val cc = held.pin(state(s, path))
    val changed = held.pin(Resolver.addEdgesChanged(cc, edges))
    if (!changed.isEmpty)
      MergeLake.append(asRows(changed, seen), path): Unit
  }
}
