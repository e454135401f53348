package graft.streaming

import graft.SparkSpec
import graft.operators.CorpusOps
import org.apache.spark.sql.functions._

/** Streaming weighted reservoir (the live q146): the maintained sample
  * over any batch partition of the corpus is bit-identical to the batch
  * draw; replays and compaction cannot move it.
  */
class StreamingSampleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("maintained sample equals the batch q146 draw; replay and compaction are exact") {
    val tmp = java.nio.file.Files.createTempDirectory("wstream").toString
    val d = graft.Tables.load(spark, dir, "documents")
    val direct = rows(CorpusOps.q146WeightedSample(spark, dir))

    // three arrivals -> three per-batch reservoirs
    for (m <- 0 to 2) {
      d.filter(pmod(col("doc_id"), lit(3)) === m)
        .write.mode("append").parquet(s"$tmp/in")
      StreamingSample.run(spark, s"$tmp/in", d.schema,
        s"$tmp/sample", s"$tmp/ckpt").awaitTermination()
    }
    assert(rows(StreamingSample.readSample(spark, s"$tmp/sample")) == direct,
      "merge-on-read sample drifted from the batch draw")

    // a replayed batch overwrites its own segment: the sample is unchanged
    CorpusOps.topKReservoir(
      CorpusOps.weightedKeys(d.filter(pmod(col("doc_id"), lit(3)) === 1)),
      CorpusOps.WS_K)
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/sample", 1))
    assert(rows(StreamingSample.readSample(spark, s"$tmp/sample")) == direct,
      "replay must be idempotent")

    // compaction folds to one top-k segment; the sample does not move
    StreamingSample.compactSample(spark, s"$tmp/sample")
    assert(rows(StreamingSample.readSample(spark, s"$tmp/sample")) == direct,
      "compaction changed the sample")
    val segs = new java.io.File(s"$tmp/sample").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(segs == Seq("compact_2"), s"expected one compact segment: $segs")

    // crash simulation: a covered leftover holds only outranked-or-dup
    // rows — top-k idempotence makes it harmless even before exclusion
    CorpusOps.topKReservoir(
      CorpusOps.weightedKeys(d.filter(pmod(col("doc_id"), lit(3)) === 0)),
      CorpusOps.WS_K)
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/sample", 0))
    assert(rows(StreamingSample.readSample(spark, s"$tmp/sample")) == direct,
      "covered leftover shifted the sample")

    // the lifecycle continues: a post-compaction arrival merges on top
    d.limit(0).write.mode("append").parquet(s"$tmp/in")
    StreamingSample.run(spark, s"$tmp/in", d.schema,
      s"$tmp/sample", s"$tmp/ckpt").awaitTermination()
    assert(rows(StreamingSample.readSample(spark, s"$tmp/sample")) == direct,
      "post-compaction empty arrival moved the sample")
  }

  test("late high-key documents evict incumbents exactly as batch would") {
    val tmp = java.nio.file.Files.createTempDirectory("wstream2").toString
    val d = graft.Tables.load(spark, dir, "documents")
    // arrival order chosen so the winners arrive LAST: stream the bottom
    // half of the final sample's ids first, then everything else
    val winners = CorpusOps.q146WeightedSample(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val first = d.filter(!col("doc_id").isin(winners.toSeq: _*))
    val second = d.filter(col("doc_id").isin(winners.toSeq: _*))
    first.write.mode("append").parquet(s"$tmp/in")
    StreamingSample.run(spark, s"$tmp/in", d.schema,
      s"$tmp/sample", s"$tmp/ckpt").awaitTermination()
    val interim = StreamingSample.readSample(spark, s"$tmp/sample")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(interim.intersect(winners).isEmpty,
      "winners were not yet streamed — interim sample must not contain them")
    second.write.mode("append").parquet(s"$tmp/in")
    StreamingSample.run(spark, s"$tmp/in", d.schema,
      s"$tmp/sample", s"$tmp/ckpt").awaitTermination()
    assert(rows(StreamingSample.readSample(spark, s"$tmp/sample")) ==
      rows(CorpusOps.q146WeightedSample(spark, dir)),
      "late winners must fully evict the interim incumbents")
  }
}
