package graft.operators

import graft.SparkSpec
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** q132 (incremental stats view): the merge law (base ⊕ delta == direct,
  * bit-for-bit), meta honesty, and the streaming maintainer's
  * merge-on-read + replay idempotence.
  */
class StatsMaintenanceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def collectStats(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap

  test("merge(stored base, delta) equals the from-scratch aggregate") {
    val d = graft.Tables.load(spark, dir, "documents")
    val direct = collectStats(TextAnalysis.finalizeStats(
      TextAnalysis.statsPartials(d)))
    val served = collectStats(
      TextAnalysis.queries("q132_stats_maintenance")(spark, dir))
    assert(served == direct, "incremental view drifted from direct")
    assert(direct.nonEmpty)
    // an empty delta is the identity
    val tmp = java.nio.file.Files.createTempDirectory("stats").toString
    TextAnalysis.writeStatsIndex(d, tmp)
    val baseOnly = collectStats(TextAnalysis.finalizeStats(
      spark.read.parquet(s"$tmp/partials")))
    assert(baseOnly == direct)
    val props = IndexMeta.read(spark, tmp, "writeStatsIndex")
    assert(props.getProperty("keys") == "lang,source")
  }

  test("streaming maintainer: merge-on-read equals direct; replay is idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("statstream").toString
    val d = graft.Tables.load(spark, dir, "documents")
    def stream = spark.readStream.schema(d.schema).parquet(s"$tmp/in")
    // two arrivals -> two maintained segments
    d.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(s"$tmp/in")
    graft.streaming.StreamingStats.run(spark, s"$tmp/in", d.schema,
      s"$tmp/stats", s"$tmp/ckpt").awaitTermination()
    d.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(s"$tmp/in")
    graft.streaming.StreamingStats.run(spark, s"$tmp/in", d.schema,
      s"$tmp/stats", s"$tmp/ckpt").awaitTermination()
    val direct = collectStats(TextAnalysis.finalizeStats(
      TextAnalysis.statsPartials(d)))
    val view = collectStats(
      graft.streaming.StreamingStats.readStats(spark, s"$tmp/stats"))
    assert(view == direct, "merge-on-read view drifted from direct")
    // a replayed batch overwrites its own segment: the view is unchanged
    TextAnalysis.statsPartials(d.filter(col("doc_id") % 2 === 1))
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/stats", 1))
    val replayed = collectStats(
      graft.streaming.StreamingStats.readStats(spark, s"$tmp/stats"))
    assert(replayed == direct, "replay must be idempotent")

    // compaction folds the segments exactly: the view does not move
    graft.streaming.StreamingStats.compactStats(spark, s"$tmp/stats")
    assert(collectStats(graft.streaming.StreamingStats
      .readStats(spark, s"$tmp/stats")) == direct, "compaction changed the view")
    // crash simulation: a covered batch dir left behind is EXCLUDED by
    // id (additive partials must not double-count)
    TextAnalysis.statsPartials(d.filter(col("doc_id") % 2 === 0))
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/stats", 0))
    assert(collectStats(graft.streaming.StreamingStats
      .readStats(spark, s"$tmp/stats")) == direct,
      "covered leftovers double-counted")
    // post-compaction batches merge on top; a second compaction folds
    // compact + live into one segment, view still exact
    TextAnalysis.statsPartials(d.limit(0))
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/stats", 2))
    graft.streaming.StreamingStats.compactStats(spark, s"$tmp/stats")
    assert(collectStats(graft.streaming.StreamingStats
      .readStats(spark, s"$tmp/stats")) == direct, "re-compaction drifted")
  }

  test("a partial compact (no _SUCCESS) never masks intact batch segments") {
    val tmp = java.nio.file.Files.createTempDirectory("statscrash").toString
    val d = graft.Tables.load(spark, dir, "documents")
    TextAnalysis.statsPartials(d.filter(col("doc_id") % 2 === 0))
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/stats", 0))
    TextAnalysis.statsPartials(d.filter(col("doc_id") % 2 === 1))
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/stats", 1))
    val direct = collectStats(TextAnalysis.finalizeStats(
      TextAnalysis.statsPartials(d)))
    assert(collectStats(graft.streaming.StreamingStats
      .readStats(spark, s"$tmp/stats")) == direct)
    // compactor crash mid-write: a compact dir with DATA (here: wrong,
    // quarter-corpus partials, so masking would visibly move the view)
    // but no _SUCCESS marker — readers must keep serving the intact
    // batch segments it would have covered
    TextAnalysis.statsPartials(d.filter(col("doc_id") % 4 === 0))
      .write.mode("overwrite").parquet(s"$tmp/stats/compact_1")
    assert(new java.io.File(s"$tmp/stats/compact_1/_SUCCESS").delete(),
      "fixture bug: expected the committer's _SUCCESS marker")
    assert(collectStats(graft.streaming.StreamingStats
      .readStats(spark, s"$tmp/stats")) == direct,
      "a partial compact masked intact batch segments")
    // the re-run compactor overwrites the partial and the view is exact;
    // the covered batch dirs are swept
    graft.streaming.StreamingStats.compactStats(spark, s"$tmp/stats")
    assert(collectStats(graft.streaming.StreamingStats
      .readStats(spark, s"$tmp/stats")) == direct, "recovery compaction drifted")
    assert(!new java.io.File(Streams.sink(s"$tmp/stats", 0)).exists(),
      "recovery compaction must sweep covered batch dirs")
  }

  test("compactor sweep aborts when the new compact is not served (no _SUCCESS)") {
    // marksuccessfuljobs=false is a common cluster setting: the compact
    // write then produces NO _SUCCESS marker, readers (which require it)
    // keep serving the batch dirs — so the sweep MUST NOT delete them,
    // or the data is silently gone. The compactor verifies the compact
    // is actually served (segments() — the readers' own rule) before
    // sweeping.
    val tmp = java.nio.file.Files.createTempDirectory("statsnomark").toString
    val d = graft.Tables.load(spark, dir, "documents")
    TextAnalysis.statsPartials(d.filter(col("doc_id") % 2 === 0))
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/stats", 0))
    TextAnalysis.statsPartials(d.filter(col("doc_id") % 2 === 1))
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/stats", 1))
    val direct = collectStats(TextAnalysis.finalizeStats(
      TextAnalysis.statsPartials(d)))
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prev = conf.get(key)
    conf.setBoolean(key, false)
    try graft.streaming.StreamingStats.compactStats(spark, s"$tmp/stats")
    finally {
      if (prev == null) conf.unset(key) else conf.set(key, prev)
    }
    assert(new java.io.File(Streams.sink(s"$tmp/stats", 0)).exists() &&
      new java.io.File(Streams.sink(s"$tmp/stats", 1)).exists(),
      "sweep deleted batches behind an unserved (_SUCCESS-less) compact")
    assert(collectStats(graft.streaming.StreamingStats
      .readStats(spark, s"$tmp/stats")) == direct,
      "view drifted after an aborted-sweep compaction")
    // a re-run under the normal committer completes the fold and sweeps
    graft.streaming.StreamingStats.compactStats(spark, s"$tmp/stats")
    assert(collectStats(graft.streaming.StreamingStats
      .readStats(spark, s"$tmp/stats")) == direct, "recovery drifted")
    assert(!new java.io.File(Streams.sink(s"$tmp/stats", 0)).exists(),
      "normal-committer recompaction must sweep covered batches")
  }
}
