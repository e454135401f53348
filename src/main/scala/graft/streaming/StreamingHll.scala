package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming cardinality maintenance — the live half of q154's HLL view
  * on the shared [[SegmentStore]] topology: every document micro-batch
  * contributes ONLY its own (source, register) max-rho partials; the view
  * is a max-merge over segments. Strictly stronger replay story than the
  * stats view's integer sums: max is IDEMPOTENT, so even a batch written
  * twice under different ids (beyond the ledger's own overwrite
  * idempotence) could not move a register. State per segment is bounded
  * by #sources × m registers — independent of batch size or corpus
  * history, which is the whole reason a 100 TB pipeline keeps registers
  * instead of type tables.
  */
object StreamingHll {

  /** Per-batch maintainer: register partials into the batch's
    * [[Streams.sink]] under `hllPath`.
    */
  def run(spark: SparkSession, docDir: String,
          docSchema: org.apache.spark.sql.types.StructType,
          hllPath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.run(spark.readStream.schema(docSchema).parquet(docDir), checkpoint, trigger) {
      (batch, batchId) => Streams.fanOut(batch, batchId)((hllPath, TextAnalysis.hllPartials))
    }

  /** The current per-source estimate over every live segment. */
  def readEstimates(spark: SparkSession, hllPath: String): DataFrame =
    TextAnalysis.finalizeHll(SegmentStore.readPartials(spark, hllPath))

  /** Fold segments exactly (register max — reads cannot change). */
  def compactRegisters(spark: SparkSession, hllPath: String): Unit =
    SegmentStore.compact(spark, hllPath, TextAnalysis.mergeHllPartials)
}
