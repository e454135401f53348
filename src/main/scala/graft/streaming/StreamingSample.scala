package graft.streaming

import graft.operators.CorpusOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming weighted-reservoir maintenance — the live half of q146's
  * Efraimidis–Spiliopoulou draw: every document micro-batch keys its own
  * rows with the SHARED q146 kernel and writes only its own batch-local
  * top-k to a batch-keyed segment dir; the current sample is a
  * merge-on-read top-k over all segments.
  *
  * Why this is exact (not approximate): the E–S key is content-addressed
  * (a per-doc md5 draw), so a document's key is the same whether it
  * arrives in batch 0 or batch 9, and top-k is associative — the global
  * top-k of a union equals the top-k of per-batch top-ks. The maintained
  * sample over any batch partition of the corpus is therefore
  * BIT-IDENTICAL to running q146 on the whole corpus at once
  * (StreamingSampleSpec pins this), which is the reservoir-sampling
  * guarantee without any driver-side reservoir or RNG state.
  *
  * State = the segment store, bounded by (#batches × k) ROWS — not by
  * corpus size. Replays overwrite their own segment (idempotent), and
  * top-k's idempotence makes even a double-counted row harmless
  * (contrast StreamingStats, whose additive partials must exclude
  * covered leftovers to avoid double counting; the same exclusion is
  * kept here purely so the topology matches the house convention).
  */
object StreamingSample {

  /** Per-batch maintainer: the batch's own top-k into its
    * [[Streams.sink]] under `samplePath`.
    */
  def run(spark: SparkSession, docDir: String,
          docSchema: org.apache.spark.sql.types.StructType,
          samplePath: String, checkpoint: String,
          k: Int = CorpusOps.WS_K,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.run(spark.readStream.schema(docSchema).parquet(docDir), checkpoint, trigger) {
      (batch, batchId) => Streams.fanOut(batch, batchId)(
        (samplePath, b => CorpusOps.topKReservoir(CorpusOps.weightedKeys(b), k)))
    }

  /** Merge-on-read: global top-k over every live segment (the shared
    * [[SegmentStore]] topology — one definition of batch/compact/covered),
    * presented in q146's exact output shape (rank, doc_id, source, w,
    * es_key).
    */
  def readSample(spark: SparkSession, samplePath: String,
                 k: Int = CorpusOps.WS_K): DataFrame =
    CorpusOps.rankReservoir(
      CorpusOps.topKReservoir(SegmentStore.readPartials(spark, samplePath), k))

  /** Fold every live segment into ONE `compact_<hi>` segment holding just
    * the current top-k ([[SegmentStore.compact]] with top-k as the merge).
    * EXACT by top-k associativity, and uniquely for this maintainer the
    * crash case is doubly safe: beyond the store's _SUCCESS guard, a
    * covered leftover holds rows the compact segment either already
    * contains (idempotent under duplicates) or outranks. One-writer
    * maintenance contract, same as StreamingStats.
    */
  def compactSample(spark: SparkSession, samplePath: String,
                    k: Int = CorpusOps.WS_K): Unit =
    SegmentStore.compact(spark, samplePath,
      df => CorpusOps.topKReservoir(df, k))
}
