package graft.streaming

import graft.operators.TimeSeries
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming gap sessionization — the incremental counterpart of batch
  * q36 (`TimeSeries.q36Sessionize`), on `flatMapGroupsWithState` with an
  * EVENT-TIME timeout: a user's events accumulate in per-key state; a
  * >30 min gap inside a batch closes a session immediately, and the
  * trailing open session closes when the WATERMARK passes its
  * last-event-plus-gap instant (the event-time guarantee that nothing
  * still in flight could extend it). Closed sessions append exactly once;
  * open sessions emit nothing — the same contract q36 states per
  * partition, held incrementally.
  *
  * Shares [[TimeSeries.SESSION_GAP_NS]] with the batch query, so the two
  * surfaces cannot drift on the boundary rule (a diff of exactly the gap
  * CONTINUES the session on both).
  *
  * Scale: state is one (start, last, count, ordinal) tuple per ACTIVE
  * user — closed state is removed on timeout, so state size tracks the
  * concurrently-active population, not history; no per-event buffering
  * (contrast [[StreamingStarBuilder]], which must keep curve points).
  * Timeouts fire off the global watermark — one number, no per-key scan.
  */
object StreamingSessionize {

  /** Open-session state: bounds of the run, events so far, and the
    * 1-based per-user session ordinal (q36's numbering).
    */
  final case class SessionState(start: Long, last: Long, n: Long, session: Long)

  final case class SessionOut(
      user_id: Long, session: Long, n_events: Long, duration_s: Double)

  private val GapNs = TimeSeries.SESSION_GAP_NS

  /** q36's `round(x, 3)` — Spark's HALF_UP shortest-decimal rounding, so
    * emitted durations are bit-identical to the batch column.
    */
  private def round3(x: Double): Double =
    BigDecimal.valueOf(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def close(user: Long, s: SessionState): SessionOut =
    SessionOut(user, s.session, s.n, round3((s.last - s.start) / 1e9))

  /** Sessionize a (user_id, event_id, ts[long ns]) stream. `delay` is the
    * watermark lateness bound; events later than it are dropped (the
    * standard stream trade — batch q36 has no such horizon).
    */
  def build(events: DataFrame, delay: String = "0 seconds"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      // ts rides the long-ns-on-µs-grid contract: /1000 is exact
      .withColumn("ts_t", timestamp_micros((col("ts") / 1000L).cast("long")))
      .withWatermark("ts_t", delay)
      // the watermark column must survive into the grouping input for
      // EventTimeTimeout; fn never reads it (ts carries the exact ns)
      .select(col("user_id").as[Long], col("event_id").as[Long],
        col("ts").as[Long], col("ts_t").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) => {
          if (!rows.hasNext && state.hasTimedOut) {
            // watermark passed last + gap: nothing can extend this session
            val s = state.get
            state.remove()
            Iterator.single(close(user, s))
          } else {
            // q36's order: (ts, event_id) — equal-ts events never split a
            // session (diff 0 ≤ gap), the sort is for determinism only
            val evs = rows.toArray.sortBy(r => (r._3, r._2))
            val closed = List.newBuilder[SessionOut]
            var st = state.getOption
            evs.foreach { case (_, _, ts, _) =>
              st match {
                case Some(s) if ts - s.last <= GapNs =>
                  st = Some(s.copy(last = ts, n = s.n + 1))
                case Some(s) =>
                  closed += close(user, s)
                  st = Some(SessionState(ts, ts, 1L, s.session + 1))
                case None =>
                  st = Some(SessionState(ts, ts, 1L, 1L))
              }
            }
            st.foreach { s =>
              state.update(s)
              // fire once the watermark proves no event ≤ last + gap is
              // still possible (ceil to the ms grid)
              state.setTimeoutTimestamp(s.last / 1000000L + GapNs / 1000000L + 1L)
            }
            closed.result().iterator
          }
        })
  }

  /** Drive closed sessions into an append-parquet sink (checkpointed,
    * exactly-once via the per-batch overwrite convention).
    */
  def run(events: DataFrame, outPath: String, checkpoint: String,
          delay: String = "0 seconds"): StreamingQuery =
    Streams.run(build(events, delay).toDF(), checkpoint)(
      (batch, batchId) => Streams.fanOut(batch, batchId)((outPath, identity)))

  /** Watermarked sliding-window aggregation over an event stream — the
    * streaming analog of the per-user resampling kernels: mean/count per
    * (user, 1h window) with 10 min watermark for late data.
    */
  def windowedEventAgg(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean_v"))
}
