package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators in
  * [[EventOps]] — the engine's incremental-processing story (the
  * reference has none; its nearest analogue is the versioned store +
  * delta ops, `store/versioned.py` + `delta.py`, which the batch forms
  * cover).
  *
  * All operators take a streaming DataFrame (`readStream` source) and
  * return a streaming result:
  *  - watermarked tumbling-window aggregation (late data dropped after
  *    the watermark);
  *  - stateful sessionization via `flatMapGroupsWithState` with a
  *    processing-time gap timeout — the streaming twin of the batch
  *    gaps-and-islands query ([[EventOps.sessionize]]).
  *
  * Scale: state is per-user session accumulators only (constant per
  * key), watermark bounds the window state; both operators shuffle once
  * on their grouping key, the same keys the batch forms use.
  */
object EventStream {

  case class Ev(user_id: Long, event_id: Long, ts_ns: Long, value: Double)
  case class SessionState(start_ns: Long, end_ns: Long, n_events: Long,
      sum_value: Double)
  case class SessionOut(user_id: Long, start_ns: Long, end_ns: Long,
      n_events: Long, sum_value: Double)

  /** Watermarked tumbling-window counts per event type. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: first occurrence per event id wins, state
    * bounded by the watermark (late duplicates beyond it age out of the
    * dedup state instead of accumulating forever — the streaming twin
    * of the batch content-hash dedup).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: each event joins the (broadcastable)
    * static dimension — no streaming state at all, the planner re-reads
    * the static side per micro-batch. The streaming twin of the
    * enrichment candidate join (`enrich/common.py` mirror match).
    */
  def enrichEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** Stateful sessionization: a session closes when a newer event
    * arrives past the gap, or (with the default processing-time
    * timeout) when the user goes quiet. Tests pass `NoTimeout` —
    * registered timeouts keep the micro-batch engine perpetually busy,
    * which deadlocks `processAllAvailable`.
    */
  def sessionize(events: Dataset[Ev], gapNs: Long = EventOps.SessionGapNs,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout())
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeout) {
        case (user, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(st =>
              SessionOut(user, st.start_ns, st.end_ns, st.n_events,
                st.sum_value))
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts_ns, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            for (e <- sorted) {
              cur match {
                case Some(st) if e.ts_ns - st.end_ns <= gapNs =>
                  cur = Some(st.copy(end_ns = e.ts_ns,
                    n_events = st.n_events + 1,
                    sum_value = st.sum_value + e.value))
                case Some(st) =>
                  closed ::= SessionOut(user, st.start_ns, st.end_ns,
                    st.n_events, st.sum_value)
                  cur = Some(SessionState(e.ts_ns, e.ts_ns, 1L, e.value))
                case None =>
                  cur = Some(SessionState(e.ts_ns, e.ts_ns, 1L, e.value))
              }
            }
            cur.foreach(state.update)
            if (useTimeout) state.setTimeoutDuration("30 seconds")
            closed.reverseIterator
          }
      }
  }
}
