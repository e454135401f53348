package graft.streaming

import graft.operators.CorpusOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming duplicate-span scrubbing — q103's transform applied at
  * ingest: each arriving document is partitioned into the SAME
  * 64-token blocks ([[CorpusOps.scrubBlocks]] — one shared definition),
  * blocks whose content was already seen in ANY earlier batch are
  * removed, within-batch duplicates keep q103's (doc_id, idx)
  * first-occurrence rule, and per-doc verdicts
  * (n_blocks, n_removed, scrubbed_md5) land in an idempotent
  * [[Streams.sink]]. Across batches, first ARRIVAL wins — the
  * streaming analog of q103's global (doc_id, idx) order.
  *
  * State is a distributed parquet LEDGER of seen block hashes, not an
  * executor state store: corpus-scale dedup state (10^10+ distinct
  * blocks at 100 TB) outgrows any per-executor store, but a
  * hash-partitioned table joins at whatever the cluster scans — the
  * q79/q81 incremental-index story with a state table that GROWS.
  *
  * Per batch the ledger participates through q96's bloom→exact-verify
  * shape, gated PER SEGMENT: each segment carries its own sketch, the
  * batch's blocks are gated map-side by the OR of the segments'
  * `might_contain` terms (an OR of codegen'd scalar calls — no sketch
  * merging, so differently-sized sketches compose), and only the
  * surviving candidate hashes are exact-verified against the sketched
  * segments' scan. A segment MISSING its sketch degrades only itself:
  * its hashes are verified through a join probed by the batch's
  * distinct hashes — in both paths the corpus-lifetime ledger NEVER
  * shuffles and is NEVER broadcast; only batch-bounded hash sets move,
  * and even those fall back to a plain join past [[BROADCAST_CAP]]
  * (a backfill batch must not blow the driver).
  *
  * COMPACTION bounds per-batch overhead: segments grow one per
  * micro-batch, and without compaction every batch pays O(total
  * batches) in FS stats, driver sketch reads, and `might_contain`
  * terms — while a fixed-dial OR'd sketch saturates once lifetime
  * distinct blocks pass its capacity (the gate then passes
  * everything: still exact, but the bloom win is gone). Once more
  * than [[COMPACT_AFTER]] prior segments exist, the batch merges ALL
  * of them into one `compact_<hi>` segment (hi = the highest batch id
  * covered) with ONE covering sketch SIZED TO ITS CONTENT (1% fp at
  * the merged distinct count — capacity grows with the corpus instead
  * of saturating), then deletes the originals. Per-batch segment
  * listing and sketch reads are thereby O(1 compacted + COMPACT_AFTER
  * recent).
  *
  * Replay safety: `foreachBatch` is at-least-once, so BOTH writes are
  * keyed by batch id and overwrite — and the ledger read takes only
  * segments covering batches STRICTLY EARLIER than the current id, so
  * a replayed batch that already appended its hashes does not scrub
  * itself against them (the verdict is a pure function of the batch
  * plus strictly earlier batches). Compaction during batch N merges
  * only segments < N and names the result by its highest covered id;
  * Structured Streaming can only replay the latest uncommitted batch
  * (≥ N), for which `hi < batchId` still admits the compacted segment
  * — so a compaction racing a replay changes nothing the replay reads.
  * A crash between the compact write and the original deletes leaves
  * both visible; seen-set semantics make the duplicate hashes
  * harmless and the next compaction sweeps them.
  */
object StreamingBlockScrub {

  /** Ledger additions live under `ledger_<id>`; compacted history under
    * `compact_<hi>`; verdicts in the batch's [[Streams.sink]] under
    * `outPath`.
    */
  def run(spark: SparkSession, docDir: String, docSchema: StructType,
          outPath: String, ledgerPath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // register BEFORE start: the stream runs on a CLONED session whose
    // function registry is snapshotted at query start — registering from
    // inside the first batch would leave `might_contain` unresolvable for
    // every later batch of the same query (the StreamingDedup convention)
    graft.functions.expressions.BloomFns.register(spark)
    Streams.run(spark.readStream.schema(docSchema).parquet(docDir), checkpoint, trigger) {
      (batch, batchId) => scrubBatch(spark, batch, batchId, outPath, ledgerPath)
    }
  }

  /** Per-batch sketch dials: 128 KiB, ≲1% fp at 2^17 items. Compacted
    * segments size their covering sketch to their own content instead.
    */
  private val EST_ITEMS = 1L << 17
  private val NUM_BITS = 1L << 20

  /** Prior segments tolerated before the batch compacts them into one. */
  private[streaming] val COMPACT_AFTER = 8

  /** Hard ceiling on a compacted segment's covering sketch (128 MiB of
    * bits). The sketch rides the gate expression as a literal shipped to
    * every task, so it must stay bounded no matter how large the
    * corpus-lifetime ledger grows: at 10^10 distinct blocks the
    * uncapped 1%-fp size would be ~12 GB — a driver-killing plan
    * constant. Past the cap the fp rate rises (more candidates reach
    * the exact verify — extra traffic, never a wrong verdict, the same
    * degradation contract as Spark's own runtime bloom-filter cap); at
    * the cap, ~10^8 items still gate at ~1% fp.
    */
  private[streaming] val MAX_COMPACT_BITS = 1L << 30

  /** Sketch dials for a compacted segment holding `n` distinct hashes:
    * 1% fp sized to content, floored at the per-batch dials, capped at
    * [[MAX_COMPACT_BITS]].
    */
  private[streaming] def compactSketchDials(n: Long): (Long, Long) = {
    val items = math.max(EST_ITEMS, math.max(n, 1L))
    val bits = math.min(MAX_COMPACT_BITS, math.max(NUM_BITS,
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(
        math.max(n, 1L), 0.01)))
    (items, bits)
  }

  /** Above this many candidate/batch hashes, verify joins drop their
    * broadcast and fall back to a shuffle join — a backfill batch (or a
    * saturated sketch) must degrade, not fail the batch.
    */
  private[streaming] val BROADCAST_CAP = 500000L

  private val LedgerName = "^ledger_(\\d+)$".r
  private val CompactName = "^compact_(\\d+)$".r

  /** One ledger segment: its path, the highest batch id it covers, and
    * its sketch bytes when the `_bloom` file exists.
    */
  private[streaming] final case class Segment(
      path: String, hi: Long, sketch: Option[Array[Byte]])

  /** One micro-batch of the scrub, factored for direct spec access. */
  private[streaming] def scrubBatch(spark: SparkSession, batch: DataFrame,
                                    batchId: Long, outPath: String,
                                    ledgerPath: String): Unit = {
    // the batch's own session (the stream's CLONE inside foreachBatch):
    // every frame joined against the batch must be analyzed — and every
    // function resolved — on it, not on the outer session
    val bs = batch.sparkSession
    graft.functions.expressions.BloomFns.register(bs)
    val segments = listSegments(bs, ledgerPath).filter(_.hi < batchId)
    // one listing per batch: compaction below reuses it (sketch bytes
    // unused there, but the FS stats are the cost worth sharing)
    graft.CacheScope.run {
      val blocks = graft.CacheScope.cache(
        CorpusOps.scrubBlocks(batch).withColumn("h", md5(col("btxt"))))
      val seen = seenHashes(bs, blocks, segments)
      val marked = CorpusOps.firstOccurrenceKeep(
        blocks.join(seen, Seq("h"), "left"), col("seen").isNull)
      val cachedMarked = graft.CacheScope.cache(marked)
      Streams.fanOut(cachedMarked, batchId)((outPath, CorpusOps.scrubVerdicts))
      // newly-seen hashes = the kept blocks' (within-batch dups share a
      // kept block's hash; ledger-dropped blocks are already present)
      val additions = graft.CacheScope.cache(
        cachedMarked.filter(col("keep")).select(col("h")).distinct())
      additions.write.mode("overwrite").parquet(s"$ledgerPath/ledger_$batchId")
      writeSegmentBloom(bs, additions, s"$ledgerPath/ledger_$batchId",
        EST_ITEMS, NUM_BITS)
    }
    maybeCompact(bs, ledgerPath, batchId, Some(segments))
  }

  /** The batch's seen set — a (h, seen=true) frame BOUNDED BY THE BATCH
    * (every row is one of the batch's distinct hashes), assembled without
    * ever shuffling or broadcasting the ledger:
    *   - sketched segments: gate the batch's hashes map-side by the OR of
    *     the segments' `might_contain` terms, then exact-verify only the
    *     candidates (true hits + ~fp%) against those segments' scan;
    *   - sketchless segments (a degraded write): verify ALL the batch's
    *     distinct hashes against their scan — that segment loses its
    *     gate, the others keep theirs.
    * Both verify joins probe with the small side; past [[BROADCAST_CAP]]
    * the hint drops and the join degrades to a shuffle.
    */
  private def seenHashes(bs: SparkSession, blocks: DataFrame,
                         segments: Seq[Segment]): DataFrame = {
    def capped(small: DataFrame): DataFrame =
      if (small.count() <= BROADCAST_CAP) broadcast(small) else small
    val (sketched, plain) = segments.partition(_.sketch.isDefined)
    val parts = Seq.newBuilder[DataFrame]
    if (sketched.nonEmpty) {
      val gate: Column = sketched
        .map(s => call_function("might_contain", lit(s.sketch.get),
          xxhash64(col("h"))))
        .reduce(_ || _)
      val candidates = graft.CacheScope.cache(
        blocks.filter(gate).select(col("h")).distinct())
      parts += bs.read.parquet(sketched.map(_.path): _*)
        .join(capped(candidates), Seq("h")).select(col("h"))
    }
    if (plain.nonEmpty) {
      val batchHashes = graft.CacheScope.cache(
        blocks.select(col("h")).distinct())
      parts += bs.read.parquet(plain.map(_.path): _*)
        .join(capped(batchHashes), Seq("h")).select(col("h"))
    }
    parts.result() match {
      case Nil => bs.createDataFrame(
        bs.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType))))
        .withColumn("seen", lit(true))
      case ps => ps.reduce(_ union _).distinct().withColumn("seen", lit(true))
    }
  }

  /** The segment's sketch lives UNDER the segment dir as `_bloom` — the
    * underscore keeps parquet readers of the segment from listing it, and
    * an at-least-once replay overwrites segment data and sketch together.
    *
    * `bloom_agg` rides Spark's BloomFilterAggregate, which SILENTLY
    * CLAMPS its dials to `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems/maxNumBits` (defaults 4M items / 2^26 bits = 8 MiB) —
    * without raising those, every content-sized compacted sketch above
    * ~4M blocks would quietly saturate while compactSketchDials claims
    * otherwise. Raised HERE, scoped to the aggregate, restored after
    * (session conf — the batch session is ours inside foreachBatch);
    * [[MAX_COMPACT_BITS]] bounds what we ever request.
    */
  private[streaming] def writeSegmentBloom(spark: SparkSession, additions: DataFrame,
                                           segmentPath: String, estItems: Long,
                                           numBits: Long): Unit =
    graft.operators.BloomGate.withBloomLimits(spark, estItems, numBits) {
      writeSegmentBloomInner(spark, additions, segmentPath, estItems, numBits)
    }

  private def writeSegmentBloomInner(spark: SparkSession, additions: DataFrame,
                                     segmentPath: String, estItems: Long,
                                     numBits: Long): Unit = {
    val agg = additions
      .select(call_function("bloom_agg",
        xxhash64(col("h")), lit(estItems), lit(numBits)).as("bf"))
      .head()
    val bytes = agg.getAs[Array[Byte]]("bf") match {
      case null => // empty additions: an all-zeros sketch keeps the fast path
        val empty = org.apache.spark.util.sketch.BloomFilter.create(estItems, numBits)
        val bos = new java.io.ByteArrayOutputStream()
        empty.writeTo(bos); bos.toByteArray
      case b => b
    }
    import spark.implicits._
    Seq(bytes).toDF("bf").coalesce(1)
      .write.mode("overwrite").parquet(s"$segmentPath/_bloom")
  }

  /** Merge every segment covering batches < batchId into one
    * `compact_<batchId-1>` segment with a covering sketch sized to the
    * merged distinct count (1% fp, floored at the per-batch dials), then
    * delete the originals. Only fires past [[COMPACT_AFTER]] prior
    * segments, so steady-state per-batch cost is O(1 + COMPACT_AFTER).
    */
  private[streaming] def maybeCompact(bs: SparkSession, ledgerPath: String,
                                      batchId: Long,
                                      listed: Option[Seq[Segment]] = None): Unit = {
    val segs = listed.getOrElse(listSegments(bs, ledgerPath, readSketches = false))
      .filter(_.hi < batchId)
    if (segs.length <= COMPACT_AFTER) return
    val target = s"$ledgerPath/compact_${batchId - 1}"
    // write-to-temp + rename: a replay after a crash-between-write-and-
    // delete lists the half-finished layout WITH the previous compact as
    // an input — an in-place overwrite of `target` would delete files the
    // merge is still reading (self-overwrite); the temp name misses the
    // strict compact_\d+ pattern, so readers never see a partial segment
    val tmp = s"$target.tmp"
    graft.CacheScope.run {
      val merged = graft.CacheScope.cache(
        bs.read.parquet(segs.map(_.path): _*).select(col("h")).distinct())
      val (items, bits) = compactSketchDials(merged.count())
      merged.write.mode("overwrite").parquet(tmp)
      writeSegmentBloom(bs, bs.read.parquet(tmp), tmp, items, bits)
    }
    val fs = new org.apache.hadoop.fs.Path(ledgerPath)
      .getFileSystem(bs.sparkContext.hadoopConfiguration)
    val targetPath = new org.apache.hadoop.fs.Path(target)
    if (fs.exists(targetPath)) fs.delete(targetPath, true)
    // abort if the rename did not land: deleting the originals with no
    // compact segment in place would lose the entire ledger history
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), targetPath),
      s"blockscrub compact: rename $tmp -> $target failed; originals kept")
    // originals go only after the compact segment + sketch are durable; a
    // crash in this loop leaves survivors whose hashes the compact already
    // holds — harmless duplicates the next compaction sweeps. Compare by
    // directory NAME: listStatus paths are scheme-qualified (file:/...),
    // so a raw-string compare against `target` never matches and a
    // crash-replay (previous compact_<batchId-1> among the inputs) would
    // delete the segment just renamed into place
    segs.filter(s => new org.apache.hadoop.fs.Path(s.path).getName !=
        targetPath.getName).foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(s.path), true)
    }
    graft.Telemetry.record(
      s"blockscrub compact: ${segs.length} segments -> compact_${batchId - 1}")
  }

  /** List ledger segments under strict name patterns (a foreign
    * `ledger_tmp` dir must be skipped, not crash every batch), reading
    * each segment's sketch bytes when present — O(segments) driver work,
    * bounded by compaction. `readSketches = false` skips the per-segment
    * sketch reads for callers that only need paths (compaction).
    */
  private[streaming] def listSegments(spark: SparkSession, ledgerPath: String,
                                      readSketches: Boolean = true): Seq[Segment] = {
    val p = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { s =>
      val hi = s.getPath.getName match {
        case LedgerName(id)  => Some(id.toLong)
        case CompactName(id) => Some(id.toLong)
        case _               => None
      }
      hi.map { h =>
        val bloomPath = new org.apache.hadoop.fs.Path(s.getPath, "_bloom")
        val sketch =
          if (!readSketches || !fs.exists(bloomPath)) None
          else scala.util.Try(
            spark.read.parquet(bloomPath.toString)
              .head().getAs[Array[Byte]]("bf")).toOption
        Segment(s.getPath.toString, h, sketch)
      }
    }
  }
}
