package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one streaming entry for every stateless materialized-index
  * serve. A caller binds it to one index family, e.g.
  * {{{
  * IndexServingStream.run(spark, probeDir, schema, indexPath, out, ckpt) {
  *   val idx = Similarity.loadIvfPqIndex(spark, indexPath)
  *   batch => Similarity.ivfPqSearch(batch, idx)
  * }
  * }}}
  * Probe rows stream from a parquet file source, each micro-batch runs
  * the family's BATCH kernel over the index resolved ONCE at query
  * start, and the sink is an idempotent `batch_<id>` overwrite (readers
  * load it with `recursiveFileLookup=true`). The kernel is the one the
  * driver query serves, so stream and batch cannot drift.
  *
  * The served families (load → batch kernel → query twin):
  *
  * | family        | load                               | batch kernel                                | twin |
  * |---------------|------------------------------------|---------------------------------------------|------|
  * | band dedup    | `Dedup.loadBandIndex`              | `Dedup.incrementalDedupAgainstLoaded`       | q81  |
  * | LSH ANN       | `Similarity.loadAnnIndex`          | `Similarity.annSearch`                      | q82  |
  * | IVF           | `Similarity.loadIvfIndex`          | `Similarity.ivfSearch`                      | q83  |
  * | SQ8           | `Similarity.loadSq8Index`          | `Similarity.sq8Search`                      | q91  |
  * | PQ            | `Similarity.loadPqIndex`           | `Similarity.pqSearch`                       | q93  |
  * | residual IVF-PQ | `Similarity.loadIvfPqIndex`      | `Similarity.ivfPqSearch`                    | q183 |
  * | bloom gate    | `BloomGate.loadBloomIndex`         | `BloomGate.decontaminateAgainstLoaded`      | q97  |
  * | CCNet LM      | `CorpusOps.loadCcnetIndex`         | `CorpusOps.ccnetAgainstLoaded`              | q109 |
  * | DSIR LLR      | `CorpusOps.loadDsirIndex`          | `CorpusOps.dsirAgainstLoaded`               | q113 |
  * | cluster prune | `Similarity.loadClusterPruneIndex` | `Similarity.clusterPruneAgainstLoaded`      | q118 |
  * | hot blocks    | `CorpusOps.loadHotBlockIndex`      | `CorpusOps.hotScrubAgainstLoaded`           | q130 |
  * | MAD outliers  | `TimeSeries.loadOutlierBounds`     | `TimeSeries.outliersAgainstBounds`          | q138 |
  * | phase template | `TimeSeries.loadPhaseIndex`       | `TimeSeries.phaseResidualsAgainstIndex`     | q141 |
  * | BM25 routing  | `Bm25.loadBm25Terms`               | `Bm25.scoreNewDocs`                         | q143 |
  *
  * Two serves keep their own streams: [[StreamingCusum]] is stateful
  * (per-user CUSUM state across batches) and [[StreamingDecileGate]]
  * writes two sinks. Both uphold the two contracts below by hand.
  *
  * Centralizing the scaffold means the two contracts that make serving
  * safe live in exactly one place:
  *
  *  - fingerprint BEFORE load: the meta fingerprint is captured before
  *    the index frames resolve, so a rebuild landing between the two
  *    fails the FIRST batch loudly instead of being masked forever
  *    (captured after, the fingerprint would equal the NEW build while
  *    the plan held the old frames);
  *  - restart-on-rebuild: every micro-batch re-checks the fingerprint
  *    (one FS stat + tiny read) and fails loudly if the index was
  *    replaced (any commit: rebuild, append, compaction or retrain),
  *    never serving a mixture of old plan and new files.
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
