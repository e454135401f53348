package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming conversion funnel — the incremental counterpart of batch
  * q165: per-user state is the FOUR stage watermarks (t1..t4); each
  * arriving event, folded in (ts, event_id) order, can fill exactly the
  * first unfilled stage whose type matches and whose timestamp is
  * strictly later than the previous stage — so a user's conversion
  * surfaces in the micro-batch where the purchase lands, not at the next
  * batch recompute. Emits the user's funnel row whenever their stage
  * advances (update-style over the segment ledger).
  *
  * Equivalence contract: the sequential fold equals q165's nested
  * conditional MINs exactly when batches respect per-user event-time
  * order (the file-source ingestion contract, same as
  * [[StreamingCusum]]) — the first qualifying event in ascending ts IS
  * the conditional minimum. FunnelParitySpec pins stream == batch on a
  * split replay and across a checkpointed restart.
  *
  * Scale: state is four optional longs per user — O(1), no event
  * buffering; per-batch work is one group fold over the batch's users.
  */
object StreamingFunnel {

  /** The four stage watermarks; 0 encodes "unreached" (valid because the
    * long-ns timestamps are strictly positive).
    */
  final case class FunnelState(t1: Long, t2: Long, t3: Long, t4: Long)

  final case class FunnelOut(user_id: Long, t1: Option[Long], t2: Option[Long],
                             t3: Option[Long], t4: Option[Long],
                             stage_reached: Int)

  private val stages = Seq("signup", "view", "click", "purchase")

  private def toOut(user: Long, st: FunnelState): FunnelOut = {
    val ts = Seq(st.t1, st.t2, st.t3, st.t4).map(t => if (t == 0L) None else Some(t))
    FunnelOut(user, ts(0), ts(1), ts(2), ts(3), ts.count(_.isDefined))
  }

  /** Fold a (user_id, event_id, ts, event_type) stream into funnel rows
    * (one per user per batch in which their stage set changed — emitting
    * on watermark refinements is unnecessary because a filled stage is
    * already the conditional minimum under ordered arrival).
    */
  def build(events: DataFrame): Dataset[FunnelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").as[Long], col("event_id").as[Long],
        col("ts").as[Long], col("event_type").as[String])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[FunnelState]) => {
          val evs = rows.toArray.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(FunnelState(0L, 0L, 0L, 0L))
          evs.foreach { case (_, _, ts, tpe) =>
            // 0L is the empty-stage sentinel, so the long-ns feed must be
            // strictly post-epoch — enforce the assumption loudly instead
            // of silently treating an epoch/negative ts as "unfilled"
            require(ts > 0L,
              s"funnel ts contract: ts=$ts for user=$user must be > 0 " +
                "(0 is the FunnelState empty-stage sentinel)")
            val filled = Seq(st.t1, st.t2, st.t3, st.t4)
            val next = filled.indexWhere(_ == 0L)
            if (next >= 0 && stages(next) == tpe &&
              (next == 0 || ts > filled(next - 1))) {
              st = next match {
                case 0 => st.copy(t1 = ts)
                case 1 => st.copy(t2 = ts)
                case 2 => st.copy(t3 = ts)
                case 3 => st.copy(t4 = ts)
              }
            }
          }
          state.update(st)
          // one current row per touched user per batch; readFunnel keeps
          // each user's latest
          Iterator(toOut(user, st))
        })
  }

  /** Drive a parquet event stream; each batch overwrites its own segment
    * (replay-idempotent, the ledger convention). The current funnel view
    * is the LAST row per user across segments (later batches refine).
    */
  def run(spark: org.apache.spark.sql.SparkSession, evDir: String,
          evSchema: StructType, outPath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.run(build(spark.readStream.schema(evSchema).parquet(evDir)).toDF(),
      checkpoint, trigger)((batch, batchId) => Streams.fanOut(batch, batchId)((outPath, identity)))

  /** The current funnel table: each user's latest emitted row, ordered by
    * the `batch_id` partition column of the [[Streams.sink]] layout.
    */
  def readFunnel(spark: org.apache.spark.sql.SparkSession,
                 outPath: String): DataFrame = {
    val all = spark.read.parquet(outPath)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("batch_id").desc)
    all.withColumn("_rn",
      org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "batch_id")
  }
}
