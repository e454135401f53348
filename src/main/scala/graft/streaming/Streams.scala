package graft.streaming

import graft.operators.IndexMeta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one micro-batch stream scaffold. Every `foreachBatch` stream under
  * `graft.streaming` starts through [[run]], names its sink directories
  * with [[sink]] and writes them through [[fanOut]]; a stream that serves
  * a stored index or boundary table resolves it through [[guard]].
  *
  * The sink rule: micro-batch `n` of a sink at `path` lands in
  * `path/batch_id=<n>`, written with an idempotent overwrite.
  * `foreachBatch` is at-least-once, so a replayed batch re-places its own
  * directory instead of duplicating rows. The `batch_id=<n>` name is a
  * partition directory: a plain `spark.read.parquet(path)` and a
  * file-stream source over `path` both read every batch (with a
  * `batch_id` column), a `recursiveFileLookup` reader reads them without
  * the column, and an explicit-path read of single batch directories
  * (the [[SegmentStore]] merge-on-read) gets no partition column.
  *
  * The serving contracts, upheld once in [[guard]]:
  *
  *  - fingerprint BEFORE load: the index meta fingerprint is captured
  *    before the index frames resolve, so a rebuild landing between the
  *    two fails the FIRST batch loudly instead of being masked forever
  *    (captured after, the fingerprint would equal the NEW build while
  *    the plan held the old frames);
  *  - restart-on-rebuild: every micro-batch re-checks the fingerprint
  *    (one FS stat + tiny read) and fails loudly if the index was
  *    replaced (any commit: rebuild, append, compaction or retrain),
  *    never serving a mixture of old plan and new files.
  *
  * [[serve]] binds both to a stateless index family: probe rows stream
  * from a parquet file source and each micro-batch runs the family's
  * BATCH kernel over the index resolved once at query start, so stream
  * and batch cannot drift. The served families (load → batch kernel →
  * query twin):
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
  * [[StreamingDecileGate]] (two sinks) and [[StreamingCusum]] (stateful)
  * run on [[guard]] + [[run]] directly.
  *
  * The two [[StreamingDedup]] streams stay off this scaffold: their
  * state is `dropDuplicatesWithinWatermark`, and they append through
  * Spark's own file sink, whose `_spark_metadata` log gives exactly-once
  * output without per-batch directories.
  */
private[graft] object Streams {

  /** The one `writeStream` chain: `source` runs `perBatch` on each
    * micro-batch under `checkpoint`.
    */
  def run(source: DataFrame, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow(),
          mode: OutputMode = OutputMode.Append())(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(perBatch)
      .start()

  /** The directory of micro-batch `batchId` in the sink at `path`. */
  def sink(path: String, batchId: Long): String = s"$path/batch_id=$batchId"

  /** Matches a [[sink]] directory name; the group is the batch id. */
  private[streaming] val SinkDir = "batch_id=(\\d+)".r

  /** Overwrites each sink's `batchId` directory with `f(batch)`. With
    * more than one sink the batch is cached once for all of them and
    * unpersisted after.
    */
  def fanOut(batch: DataFrame, batchId: Long)(
      sinks: (String, DataFrame => DataFrame)*): Unit = {
    val shared = sinks.length > 1
    if (shared) batch.cache()
    try sinks.foreach { case (path, f) =>
      f(batch).write.mode("overwrite").parquet(sink(path, batchId))
    } finally if (shared) batch.unpersist()
  }

  /** Resolves the index at `indexPath` once, fingerprinted BEFORE
    * `resolve` runs, and returns the resolved value with the per-batch
    * check that fails once the index is rebuilt.
    */
  def guard[A](spark: SparkSession, indexPath: String)(
      resolve: => A): (A, () => Unit) = {
    val loadedFp = IndexMeta.fingerprint(spark, indexPath)
    val resolved = resolve
    (resolved, () => IndexMeta.requireUnchanged(spark, indexPath, loadedFp))
  }

  /** Serves one stateless index family, e.g.
    * {{{
    * Streams.serve(spark, probeDir, schema, indexPath, out, ckpt) {
    *   val idx = Similarity.loadIvfPqIndex(spark, indexPath)
    *   batch => Similarity.ivfPqSearch(batch, idx)
    * }
    * }}}
    * `resolve` loads the index and returns the search over one probe
    * micro-batch; each batch's result lands in `outPath`'s [[sink]].
    */
  def serve(spark: SparkSession, probeDir: String,
            probeSchema: org.apache.spark.sql.types.StructType,
            indexPath: String, outPath: String, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow())(
      resolve: => DataFrame => DataFrame): StreamingQuery = {
    val (search, check) = guard(spark, indexPath)(resolve)
    run(spark.readStream.schema(probeSchema).parquet(probeDir), checkpoint, trigger) {
      (batch, batchId) =>
        check()
        graft.CacheScope.run(fanOut(batch, batchId)((outPath, search)))
    }
  }
}
