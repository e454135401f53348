package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one streaming entry every materialized-index serving stream
  * shares — the vector serves bind to it directly, e.g.
  * {{{
  * IndexServingStream.run(spark, probeDir, schema, indexPath, out, ckpt) {
  *   val idx = Similarity.loadIvfPqIndex(spark, indexPath)
  *   batch => Similarity.ivfPqSearch(batch, idx)
  * }
  * }}}
  * and the text gates wrap it. Probe rows stream from a parquet file
  * source, each micro-batch runs a BATCH search kernel built from the
  * index resolved ONCE at query start, and the sink is an idempotent
  * `batch_<id>` overwrite (readers load it with
  * `recursiveFileLookup=true`). Centralizing it means the two contracts
  * that make serving safe live in exactly one place:
  *
  *  - fingerprint BEFORE load: the meta fingerprint is captured before
  *    the index frames resolve, so a rebuild landing between the two
  *    fails the FIRST batch loudly instead of being masked forever
  *    (captured after, the fingerprint would equal the NEW build while
  *    the plan held the old frames);
  *  - restart-on-rebuild: every micro-batch re-checks the fingerprint
  *    (one FS stat + tiny read) and fails loudly if the index was
  *    replaced, never serving a mixture of old plan and new files.
  *
  * `resolve` loads the index and returns the search: a function from the
  * probe micro-batch to the scored frame that closes over the
  * pre-resolved index, so per-batch corpus work is
  * whatever the batch kernel does — no state, no watermark, checkpointed
  * file-source progress, and at-least-once replays re-place rather than
  * duplicate output.
  */
private[graft] object IndexServingStream {

  def run(spark: SparkSession, probeDir: String,
          probeSchema: org.apache.spark.sql.types.StructType,
          indexPath: String, outPath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow())(
      resolve: => DataFrame => DataFrame): StreamingQuery = {
    val loadedFp = graft.operators.IndexMeta.fingerprint(spark, indexPath)
    val search = resolve // index frames resolve ONCE, after the fingerprint
    spark.readStream
      .schema(probeSchema)
      .parquet(probeDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.IndexMeta.requireUnchanged(spark, indexPath, loadedFp)
        graft.CacheScope.run {
          search(batch)
            .write.mode("overwrite").parquet(s"$outPath/batch_$batchId")
        }
        ()
      }
      .start()
  }
}
