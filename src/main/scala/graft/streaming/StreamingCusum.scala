package graft.streaming

import graft.operators.TimeSeries
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming CUSUM gate — the sequential-detection counterpart of batch
  * q139: per-user (runningSum, minPrefix) state folds each arriving
  * event's increment, so a level shift alarms DURING ingest, at the exact
  * event the batch closed form would flag. Baselines are the FROZEN
  * med/MAD boundaries of [[TimeSeries.writeOutlierIndex]] (the same index
  * q138 serves), joined stream-static; increments come from the shared
  * [[TimeSeries.cusumIncrements]] kernel, so batch and stream cannot
  * drift on units, rounding, or the allowance rule.
  *
  * Unlike the stateless gates on [[Streams.serve]], this operator is
  * genuinely stateful — C_t depends on every prior x — so it builds its
  * own stream on [[Streams.run]], with the boundary frame resolved
  * through [[Streams.guard]] (fingerprint captured BEFORE it resolves;
  * re-checked every micro-batch, failing loudly on rebuild). The
  * boundary table is collected to the driver at start (one row per
  * user), so no micro-batch reads the index files the check guards.
  *
  * Ordering contract: within a batch events sort by (ts, event_id); the
  * state fold assumes batches arrive in per-user event-time order (the
  * file-source ingestion contract) — a sequential statistic on
  * out-of-order input is undefined in ANY engine, batch q139 included
  * (there the window sort globally repairs order; here repair would mean
  * buffering history, which is exactly what CUSUM's O(1) state avoids).
  *
  * Scale: state is TWO longs per user (contrast the star builder's
  * per-event buffers); per-batch work is |batch| joined against the
  * user-bounded boundary table, held on the driver as three numbers per
  * user. Replay is safe: state restores from the
  * checkpoint version and the [[Streams.sink]] overwrite re-places output.
  */
object StreamingCusum {

  /** (runningSum S_t, minPrefix min_{j≤t} S_j) — the closed form's whole
    * memory: C_t = S_t − min(0, minPrefix).
    */
  final case class CusumState(s: Long, m: Long)

  final case class AlarmOut(user_id: Long, event_id: Long, ts: Long, c_micro: Long)

  /** Fold a (user_id, event_id, ts, value) stream against a static
    * boundary frame into the append-mode alarm stream.
    */
  def build(events: DataFrame, bounds: DataFrame): Dataset[AlarmOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    TimeSeries.cusumIncrements(events, bounds)
      .select(col("user_id").as[Long], col("event_id").as[Long],
        col("ts").as[Long], col("x").as[Long],
        (col("mad_u") * TimeSeries.CUSUM_H_MADS).as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, Long, Long)],
         state: GroupState[CusumState]) => {
          val evs = rows.toArray.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(CusumState(0L, Long.MaxValue))
          val out = List.newBuilder[AlarmOut]
          evs.foreach { case (_, id, ts, x, h) =>
            val s2 = st.s + x
            st = CusumState(s2, math.min(st.m, s2))
            val c = s2 - math.min(0L, st.m)
            if (c > h) out += AlarmOut(user, id, ts, c)
          }
          state.update(st)
          out.result().iterator
        })
  }

  /** Drive a parquet event stream against the stored boundary index. */
  def runAgainstIndex(spark: SparkSession, evDir: String, evSchema: StructType,
                      indexPath: String, outPath: String, checkpoint: String,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // resolved ONCE into a local relation. Read from the index files, the
    // stream-static join's broadcast runs before `foreachBatch` hands over
    // the batch, so a rebuild would kill the query on a deleted part file
    // before the fingerprint check could name the rebuild
    val (bounds, check) = Streams.guard(spark, indexPath) {
      val stored = TimeSeries.loadOutlierBounds(spark, indexPath)
      spark.createDataFrame(java.util.Arrays.asList(stored.collect(): _*), stored.schema)
    }
    val alarms = build(spark.readStream.schema(evSchema).parquet(evDir), bounds).toDF()
    Streams.run(alarms, checkpoint, trigger) { (batch, batchId) =>
      check()
      Streams.fanOut(batch, batchId)((outPath, identity))
    }
  }
}
