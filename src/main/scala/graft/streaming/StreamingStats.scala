package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming corpus-stats maintenance — the live half of q132's
  * materialized view: every document micro-batch contributes ONLY its own
  * (lang, source) partials (exact integer sums, the merge-able form) to a
  * batch-keyed segment dir; the view is a merge-on-read over all
  * segments. The historical corpus is never re-read, replays overwrite
  * their own segment (idempotent — the ledger convention), and the merge
  * is associative so segment arrival order is irrelevant. Segment
  * topology (covered-id exclusion, crash-safe compaction) lives in the
  * shared [[SegmentStore]]; this object contributes only the stats
  * algebra (partial = integer sums, merge = re-sum, finalize = mean at
  * read time).
  */
object StreamingStats {

  /** Per-batch maintainer: partials into the batch's [[Streams.sink]]
    * under `statsPath`.
    */
  def run(spark: SparkSession, docDir: String,
          docSchema: org.apache.spark.sql.types.StructType,
          statsPath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.run(spark.readStream.schema(docSchema).parquet(docDir), checkpoint, trigger) {
      (batch, batchId) => Streams.fanOut(batch, batchId)((statsPath, TextAnalysis.statsPartials))
    }

  /** Merge-on-read: the current view = the newest compacted segment plus
    * every batch segment it does not cover.
    */
  def readStats(spark: SparkSession, statsPath: String): DataFrame =
    TextAnalysis.finalizeStats(SegmentStore.readPartials(spark, statsPath))

  /** Fold segments into ONE compacted segment EXACTLY (integer sums —
    * spec-pinned across the fold and across a simulated compactor crash).
    */
  def compactStats(spark: SparkSession, statsPath: String): Unit =
    SegmentStore.compact(spark, statsPath, TextAnalysis.mergeStatsPartials)
}
