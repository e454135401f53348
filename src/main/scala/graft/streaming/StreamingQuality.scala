package graft.streaming

import graft.operators.CorpusOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming quality gate — the ingest-time counterpart of the batch
  * repetition scorer (q69): documents stream in, every row is scored with
  * the SAME in-row kernel the batch path uses, and each micro-batch is
  * routed to the clean or reject sink by the Gopher-rule flag.
  *
  * Scale: the scorer is a per-row projection (no state, no watermark
  * needed — quality is a pure function of the row), so the stream's only
  * cost is the two appends; [[Streams.fanOut]] fans one computed batch
  * out to both sinks without re-scoring. Composes upstream of [[StreamingDedup]]
  * in an ingest pipeline: gate first (cheap, stateless), dedup the
  * survivors (stateful).
  */
object StreamingQuality {

  def run(spark: SparkSession, docDir: String, docSchema: StructType,
          cleanPath: String, rejectPath: String,
          checkpoint: String): StreamingQuery = {
    val docs = spark.readStream.schema(docSchema).parquet(docDir)
    Streams.run(CorpusOps.repetitionScored(docs), checkpoint) { (batch, batchId) =>
      Streams.fanOut(batch, batchId)(
        (cleanPath, _.filter(!col("flagged"))),
        (rejectPath, _.filter(col("flagged"))))
    }
  }
}
