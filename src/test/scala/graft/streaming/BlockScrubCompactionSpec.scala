package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Ledger compaction for the streaming block scrub: verdicts must be
  * IDENTICAL before, across, and after a compaction; a replay racing a
  * compaction must read the same history; foreign dirs and missing
  * sketches degrade a segment, never the batch.
  */
class BlockScrubCompactionSpec extends SparkSpec {
  import spark.implicits._

  // one-block docs: block content IS the text (< 64 tokens)
  private def doc(id: Long, text: String) =
    (id, text, "en", "web", text.length.toLong)

  private def mkBatch(rows: Seq[(Long, String, String, String, Long)]) =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  private def verdicts(out: String, b: Long): Map[Long, (Long, Long)] =
    spark.read.parquet(Streams.sink(out, b))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  private def segmentNames(ledger: String): Set[String] = {
    val d = new java.io.File(ledger)
    if (!d.isDirectory) Set.empty
    else d.listFiles().filter(_.isDirectory).map(_.getName).toSet
  }

  test("verdict equality across a mid-stream compaction; old hashes survive the merge") {
    val tmp = java.nio.file.Files.createTempDirectory("scrubcompact").toString
    val (out, ledger) = (s"$tmp/out", s"$tmp/ledger")
    val shared = "the shared boilerplate block"

    // batches 0..10: each carries one unique doc + one copy of `shared`.
    // COMPACT_AFTER = 8 prior segments, so compaction fires mid-sequence.
    (0L to 10L).foreach { i =>
      val b = mkBatch(Seq(doc(2 * i, s"unique content number $i"),
        doc(2 * i + 1, shared)))
      StreamingBlockScrub.scrubBatch(spark, b, i, out, ledger)
    }
    // batch 0: both docs keep their block (shared's first arrival);
    // every later batch: unique kept, shared dropped via the ledger —
    // INCLUDING the batches after compaction rewrote the segment layout
    assert(verdicts(out, 0L) == Map(0L -> ((1L, 0L)), 1L -> ((1L, 0L))))
    (1L to 10L).foreach { i =>
      assert(verdicts(out, i) == Map(2 * i -> ((1L, 0L)), (2 * i + 1) -> ((1L, 1L))),
        s"batch $i verdicts diverged across compaction")
    }
    // compaction actually happened: one compact_<hi> + a bounded recent set
    val names = segmentNames(ledger)
    assert(names.exists(_.startsWith("compact_")),
      s"expected a compacted segment, got $names")
    assert(names.size <= StreamingBlockScrub.COMPACT_AFTER + 2,
      s"segment count must stay bounded, got ${names.size}: $names")

    // a block first seen in a batch whose ledger dir was DELETED by
    // compaction must still be recognized — its hash lives in the compact
    StreamingBlockScrub.scrubBatch(spark,
      mkBatch(Seq(doc(100L, "unique content number 2"), doc(101L, "brand new block"))),
      11L, out, ledger)
    assert(verdicts(out, 11L) == Map(100L -> ((1L, 1L)), 101L -> ((1L, 0L))),
      "compacted history lost a pre-compaction hash")

    // replay of batch 11 against the compacted ledger (its own ledger_11
    // now exists; compact covers <= 10 < 11): identical verdicts
    StreamingBlockScrub.scrubBatch(spark,
      mkBatch(Seq(doc(100L, "unique content number 2"), doc(101L, "brand new block"))),
      11L, out, ledger)
    assert(verdicts(out, 11L) == Map(100L -> ((1L, 1L)), 101L -> ((1L, 0L))),
      "replay after compaction not idempotent")
  }

  test("replay after a crash between rename and deletes keeps the ledger history") {
    // the documented crash window: compaction renamed compact_<B-1> into
    // place, then died before deleting the originals. The replay of batch
    // B re-fires compaction with the SAME target name and the previous
    // compact among its inputs — the survivor filter must recognize the
    // just-renamed target by directory name (listStatus paths are
    // scheme-qualified), or it deletes the new compact and later batches
    // re-admit every previously scrubbed block.
    val tmp = java.nio.file.Files.createTempDirectory("scrubcrash").toString
    val (out, ledger) = (s"$tmp/out", s"$tmp/ledger")
    // batches 0..8 = COMPACT_AFTER+1 segments, one short of firing
    (0L to 8L).foreach { i =>
      StreamingBlockScrub.scrubBatch(spark,
        mkBatch(Seq(doc(2 * i, s"unique content number $i"))), i, out, ledger)
    }
    assert(segmentNames(ledger) == (0L to 8L).map(i => s"ledger_$i").toSet)

    // fabricate the crash state: snapshot the originals, run the
    // compaction that batch 9 would fire, then restore the originals —
    // leaving compact_8 AND ledger_0..ledger_8 on disk together
    val fs = new org.apache.hadoop.fs.Path(ledger)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = s"$tmp/saved"
    (0L to 8L).foreach { i =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$ledger/ledger_$i"), fs,
        new org.apache.hadoop.fs.Path(s"$saved/ledger_$i"), false, conf)
    }
    StreamingBlockScrub.maybeCompact(spark, ledger, 9L)
    assert(segmentNames(ledger) == Set("compact_8"), "fixture: compaction")
    (0L to 8L).foreach { i =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$saved/ledger_$i"), fs,
        new org.apache.hadoop.fs.Path(s"$ledger/ledger_$i"), false, conf)
    }

    // the replay of batch 9: lists 10 prior segments -> re-fires
    // compaction at the same compact_8 target with the old compact_8 as
    // one of its inputs
    StreamingBlockScrub.scrubBatch(spark,
      mkBatch(Seq(doc(18L, "unique content number 9"))), 9L, out, ledger)
    assert(segmentNames(ledger) == Set("compact_8", "ledger_9"),
      s"replayed compaction left ${segmentNames(ledger)}")

    // the decisive check: a block first seen in batch 0 (whose history
    // now lives ONLY in the re-written compact) is still recognized
    StreamingBlockScrub.scrubBatch(spark,
      mkBatch(Seq(doc(20L, "unique content number 0"),
        doc(21L, "never seen before"))), 10L, out, ledger)
    assert(verdicts(out, 10L) == Map(20L -> ((1L, 1L)), 21L -> ((1L, 0L))),
      "crash-replay compaction lost pre-compaction ledger history")
  }

  test("compacted sketch dials: content-sized with floor and hard cap") {
    // floor: tiny ledgers keep the per-batch dials
    assert(StreamingBlockScrub.compactSketchDials(100L) == ((1L << 17, 1L << 20)))
    // content-sized: 10^7 items need ~9.6 bits/item at 1% fp
    val (_, bits7) = StreamingBlockScrub.compactSketchDials(10000000L)
    assert(bits7 > (1L << 26) && bits7 < (1L << 28), s"10^7-item sketch: $bits7 bits")
    // cap: 10^10 items must NOT produce a ~12 GB plan literal
    val (_, bits10) = StreamingBlockScrub.compactSketchDials(10000000000L)
    assert(bits10 == StreamingBlockScrub.MAX_COMPACT_BITS,
      s"corpus-lifetime sketch must cap at MAX_COMPACT_BITS, got $bits10")
  }

  test("written sketches honor above-clamp dials (BloomFilterAggregate silently caps)") {
    // Spark's bloom aggregate clamps to runtime.bloomFilter.maxNumBits
    // (2^26 default) — writeSegmentBloom must raise the conf or every
    // content-sized compact sketch above ~4M items silently saturates.
    // Ask for 2^27 bits and measure the BYTES actually written.
    val tmp = java.nio.file.Files.createTempDirectory("sketchdials").toString
    graft.functions.expressions.BloomFns.register(spark)
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val before = spark.conf.getOption(bitsKey) // default Some("67108864")
    val additions = Seq("a", "b", "c").toDF("h")
    StreamingBlockScrub.writeSegmentBloom(spark, additions, tmp, 8000000L, 1L << 27)
    val bytes = spark.read.parquet(s"$tmp/_bloom").head().getAs[Array[Byte]]("bf")
    assert(bytes.length >= (1 << 27) / 8,
      s"sketch written at ${bytes.length} bytes — the requested 2^27-bit dial was clamped")
    // and the conf raise is scoped: the session value reads as before
    assert(spark.conf.getOption(bitsKey) == before, "conf raise leaked")
  }

  test("foreign ledger dirs are skipped; a sketchless segment degrades only itself") {
    val tmp = java.nio.file.Files.createTempDirectory("scrubdegrade").toString
    val (out, ledger) = (s"$tmp/out", s"$tmp/ledger")
    StreamingBlockScrub.scrubBatch(spark,
      mkBatch(Seq(doc(1L, "alpha block"), doc(2L, "beta block"))), 0L, out, ledger)
    StreamingBlockScrub.scrubBatch(spark,
      mkBatch(Seq(doc(3L, "gamma block"))), 1L, out, ledger)

    // a leftover temp dir matching the prefix loosely must be SKIPPED —
    // pre-fix this crashed every batch with NumberFormatException
    new java.io.File(s"$ledger/ledger_tmp").mkdirs()
    // strip segment 0's sketch: that segment must fall back to the
    // batch-hash-probed join while segment 1 keeps its bloom gate
    val bloom0 = new java.io.File(s"$ledger/ledger_0/_bloom")
    assert(bloom0.isDirectory, "fixture: expected a _bloom dir to delete")
    bloom0.listFiles().foreach(_.delete()); bloom0.delete()

    StreamingBlockScrub.scrubBatch(spark,
      mkBatch(Seq(doc(4L, "alpha block"), doc(5L, "gamma block"),
        doc(6L, "delta block"))), 2L, out, ledger)
    // alpha (sketchless segment 0) and gamma (sketched segment 1) are both
    // recognized; delta passes — one degraded segment must not disable the
    // ledger or the other segment's gate
    assert(verdicts(out, 2L) ==
      Map(4L -> ((1L, 1L)), 5L -> ((1L, 1L)), 6L -> ((1L, 0L))),
      "degraded-segment batch produced wrong verdicts")
  }
}
