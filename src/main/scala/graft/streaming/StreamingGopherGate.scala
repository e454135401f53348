package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming Gopher gate — the ingest-time router for the q176 rule
  * battery: arriving documents are verdicted with the SAME in-row kernel
  * the batch audit uses ([[TextAnalysis.gopherVerdicts]] — one
  * definition, no threshold drift) and each micro-batch routes to the
  * pass or reject sink on the composite verdict.
  *
  * Scale: the rules are a pure per-row projection over the split arrays
  * (no state, no watermark — a verdict is a function of the row), so the
  * stream's only cost is the two appends; [[Streams.fanOut]] fans one
  * computed batch to both sinks without re-verdicting. The sinks carry
  * the FULL document row (text/lang/source/n_chars) plus the verdict
  * columns — [[TextAnalysis.gopherScored]], the StreamingQuality
  * keep-the-row convention — so the gate genuinely composes ahead of
  * [[StreamingQuality]] and [[StreamingDedup]] in an ingest pipeline:
  * all the stateless gates run first, the stateful dedup sees only
  * survivors, with their payload intact.
  */
object StreamingGopherGate {

  def run(spark: SparkSession, docDir: String, docSchema: StructType,
          passPath: String, rejectPath: String,
          checkpoint: String): StreamingQuery = {
    val docs = spark.readStream.schema(docSchema).parquet(docDir)
    Streams.run(TextAnalysis.gopherScored(docs), checkpoint) { (batch, batchId) =>
      Streams.fanOut(batch, batchId)(
        (passPath, _.filter(col("passes"))),
        (rejectPath, _.filter(!col("passes"))))
    }
  }
}
