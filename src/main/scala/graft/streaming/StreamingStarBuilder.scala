package graft.streaming

import graft.functions.Kernels
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming star construction — the incremental counterpart of the batch
  * events→stars reshape (`StarQueries.starsFromEvents`): an event stream
  * keyed by user accumulates its light curve in `mapGroupsWithState`
  * custom state, emitting an updated star summary every micro-batch.
  *
  * Scale: state is per-key and BOUNDED — when a curve exceeds `maxPoints`
  * the buffered points are ekvi-PAA-decimated to half the cap (the same
  * read-time dimension reduction CoRoT uses), so long-lived keys cannot
  * grow state without limit. Emitted rows carry the running point count,
  * time span and mean magnitude plus the Abbe variability index of the
  * buffered curve — enough for a downstream filter to score incrementally.
  */
object StreamingStarBuilder {

  final case class PointBuffer(t: Array[Double], v: Array[Double], total: Long)

  final case class StarUpdate(
      user_id: Long, n_points: Long, t_min: Double, t_max: Double,
      mean_v: Double, abbe: Double)

  def build(events: DataFrame, maxPoints: Int = 1000): Dataset[StarUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("t_days", col("ts") / lit(86400e9))
      .select(col("user_id").as[Long], col("t_days").as[Double], col("value").as[Double])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Double, Double)], state: GroupState[PointBuffer]) => {
          val incoming = rows.map(r => (r._2, r._3)).toArray.sortBy(_._1)
          val prev = state.getOption.getOrElse(PointBuffer(Array.empty, Array.empty, 0L))
          // keep the buffered curve time-ordered even when a late batch
          // arrives out of order — the Abbe/ekvi kernels are order-sensitive
          val merged = (prev.t.zip(prev.v) ++ incoming).sortBy(_._1)
          var t = merged.map(_._1)
          var v = merged.map(_._2)
          // bounded state: decimate to maxPoints/2 once the cap is hit.
          // Floor the bin count at 2: ekviPaa reads values in (0, 1] as a
          // FRACTION of the curve length (maxPoints=2 would mean bins=1.0
          // = "keep 100%", silently voiding the state bound).
          if (t.length > maxPoints) {
            val (tr, vr) = Kernels.ekviPaa(t, v, Some(math.max(2.0, maxPoints / 2.0)))
            t = tr; v = vr
          }
          val buf = PointBuffer(t, v, prev.total + incoming.length)
          state.update(buf)
          // abbe's n is the ORIGINAL accumulated count, matching the batch
          // path (curveAbbe passes the full curve length, not the reduced
          // buffer's) — decimated keys must not drift from batch scores
          val abbeN = math.min(buf.total, Int.MaxValue.toLong).toInt
          StarUpdate(user, buf.total, t.min, t.max, v.sum / v.length,
            if (t.length >= 3) Kernels.abbe(v, abbeN) else Double.NaN)
        })
  }

  /** Drive the update stream into an append-parquet history of star
    * updates (latest row per user = current state; checkpoint-resumable).
    */
  def run(events: DataFrame, outPath: String, checkpoint: String,
          maxPoints: Int = 1000): org.apache.spark.sql.streaming.StreamingQuery =
    Streams.run(build(events, maxPoints).toDF(), checkpoint, mode = OutputMode.Update())(
      (batch, batchId) => Streams.fanOut(batch, batchId)((outPath, identity)))
}
