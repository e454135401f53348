package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming PII scrub — the ingest-time counterpart of the batch redaction
  * pass (q84): documents stream in, every row's `text` is rewritten by the
  * SAME shared kernel the batch path uses ([[TextAnalysis.piiScrubbed]]),
  * scrubbed rows land in the main sink, and rows that actually contained
  * PII additionally land in a compact audit sink (id + counters only, no
  * text) so compliance can account for every redaction without retaining
  * the sensitive spans anywhere.
  *
  * Scale: the scrubber is a per-row regex projection (no state, no
  * watermark — redaction is a pure function of the row), so the stream's
  * only cost is the two appends; [[Streams.fanOut]] computes the batch
  * once and fans it to both sinks. Composes with the other ingest gates: quality
  * gate first (cheap reject), scrub the survivors, then dedup — each stage
  * stateless or watermark-bounded.
  */
object StreamingScrub {

  def run(spark: SparkSession, docDir: String, docSchema: StructType,
          scrubbedPath: String, auditPath: String,
          checkpoint: String): StreamingQuery = {
    val docs = spark.readStream.schema(docSchema).parquet(docDir)
    Streams.run(TextAnalysis.piiScrubbed(docs), checkpoint) { (batch, batchId) =>
      Streams.fanOut(batch, batchId)(
        (scrubbedPath, identity),
        // whitelist projection, not a text blacklist: the audit sink
        // carries id + counters ONLY, so a text-bearing column added
        // upstream can never leak into the compliance record
        (auditPath, _.filter(col("n_emails") + col("n_phones") > 0)
          .select(col("doc_id"), col("n_emails"), col("n_phones"))))
    }
  }
}
