package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming deduplication over a document stream (SURVEY §2.11 extension;
  * the training-data pipeline's ingest-time dedup): new document files
  * stream in, exact duplicates (by content hash) are dropped across
  * micro-batches with checkpointed state, unique documents append to the
  * clean sink.
  *
  * Scale: `dropDuplicatesWithinWatermark` keys state by the 128-bit
  * content hash and EXPIRES entries once the ingestion-time watermark
  * passes the retention delay — state is bounded by the dedup horizon
  * (documents arriving more than `retention` apart are treated as new),
  * which is the standard trade for unbounded streams. The same shape with
  * a minhash band column as the key gives streaming NEAR-dup candidate
  * suppression. Dedup against a STORED band index is stateless and runs
  * on [[Streams.serve]] instead.
  */
object StreamingDedup {

  /** Exact streaming dedup: content-hash state with watermark-bounded
    * retention; unique docs append to `cleanPath`.
    */
  def run(spark: SparkSession, docDir: String, docSchema: org.apache.spark.sql.types.StructType,
          cleanPath: String, checkpoint: String,
          retention: String = "1 hour"): StreamingQuery = {
    val docs = spark.readStream
      .schema(docSchema)
      .parquet(docDir)
    docs
      // null text keys as empty content (runNearDup's documented
      // convention) — md5(null) would group all null-text docs under the
      // state store's invisible null key and silently drop the later ones
      .withColumn("content_hash", md5(coalesce(col("text"), lit(""))))
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", retention)
      .dropDuplicatesWithinWatermark("content_hash")
      .drop("ingest_ts")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .format("parquet")
      .option("path", cleanPath)
      .start()
  }

  /** Streaming NEAR-dup suppression: state keys on the full 16-slot
    * minhash signature (word-3-gram shingles, the batch q46 hash family),
    * so textually near-identical documents — whitespace/ordering-invariant
    * at the shingle-set level — collapse to the first arrival even when
    * their raw bytes differ. Same bounded-state watermark semantics as the
    * exact variant; a stricter pipeline feeds survivors to the batch
    * LSH+verify pass (q66) for sub-signature similarity.
    */
  def runNearDup(spark: SparkSession, docDir: String,
                 docSchema: org.apache.spark.sql.types.StructType,
                 cleanPath: String, checkpoint: String,
                 retention: String = "1 hour"): StreamingQuery = {
    // the BATCH minhash kernel (native codegen'd MinhashSigExpr over the
    // shared Dedup.wordShingles definition — q46's exact hash family;
    // minima are multiplicity-invariant, so the distinct shingle set
    // signs identically to a positional scan); docs too short for any
    // 3-gram would all share the empty all-MaxValue signature and
    // collapse onto the first arrival, so they key by exact content.
    // Null text is treated as EMPTY content (both key identically) —
    // keying on a raw null would also collapse null-text docs together
    // but invisibly, via the state store's null grouping.
    graft.functions.expressions.SignatureExprs.register(spark)
    // _tok is a real column so wordShingles' lambda reads a bound
    // attribute, not a replicated split expression (see its scaladoc)
    val sigCol = when(size(col("_tok")) >= 3,
      array_join(transform(
        call_function("minhash16", graft.operators.Dedup.wordShingles(col("_tok"))),
        _.cast("string")), ","))
      .otherwise(concat(lit("exact:"), md5(col("_text"))))
    spark.readStream
      .schema(docSchema)
      .parquet(docDir)
      .withColumn("_text", coalesce(col("text"), lit("")))
      .withColumn("_tok", split(col("_text"), " "))
      .withColumn("minhash_sig", sigCol)
      .drop("_text", "_tok")
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", retention)
      .dropDuplicatesWithinWatermark("minhash_sig")
      .drop("ingest_ts")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .format("parquet")
      .option("path", cleanPath)
      .start()
  }
}
