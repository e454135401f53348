package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch-keyed segment store behind every merge-on-read partial view
  * (q132 stats, q154 HLL registers): each micro-batch writes its own
  * [[Streams.sink]] dir (replay-idempotent overwrite — the ledger
  * convention), a compactor folds covered segments into `compact_<hi>`
  * via the view's OWN merge, and readers exclude covered batch ids BY
  * NAME so a crashed compactor's leftover dirs can never double-count.
  * ONE definition of the segment topology; the merge algebra (integer
  * sums, register max) is the caller's.
  */
private[streaming] object SegmentStore {

  private val CompactDir = "compact_(\\d+)".r

  /** (newest compacted segment covering ids ≤ hi if any, live batch dirs).
    *
    * A compact dir counts only when it carries the committer's `_SUCCESS`
    * marker: a compactor crash mid-write leaves a partial `compact_<hi>`
    * whose covered batch dirs are still intact (deletes happen only
    * after a successful write), so the incomplete dir must NOT mask
    * them — readers fall back to the previous valid compact plus every
    * live batch, and the re-run compactor overwrites the partial.
    */
  def segments(spark: SparkSession,
               path: String): (Option[(Long, String)], Seq[String]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (None, Nil)
    val dirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
    val compacts = dirs.flatMap(d => d.getName match {
      case CompactDir(hi)
        if fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")) =>
        Some(hi.toLong -> d.toString)
      case _ => None
    })
    val newest = compacts.sortBy(-_._1).headOption
    val hi = newest.map(_._1).getOrElse(-1L)
    val live = dirs.flatMap(d => d.getName match {
      case Streams.SinkDir(id) if id.toLong > hi => Some(d.toString)
      case _ => None
    })
    (newest, live.toSeq)
  }

  /** Merge-on-read: the newest compacted segment plus every batch
    * segment it does not cover, as one raw partial frame.
    */
  def readPartials(spark: SparkSession, path: String): DataFrame = {
    val (compact, live) = segments(spark, path)
    spark.read.parquet((compact.map(_._2).toSeq ++ live): _*)
  }

  /** Fold everything live into ONE `compact_<hi>` via `merge`, then
    * best-effort delete the covered dirs (never load-bearing — readers
    * exclude covered ids by name). One-writer maintenance contract.
    */
  def compact(spark: SparkSession, path: String,
              merge: DataFrame => DataFrame): Unit = {
    val (compactSeg, live) = segments(spark, path)
    if (live.isEmpty) return
    val hi = live.map { d =>
      new org.apache.hadoop.fs.Path(d).getName match {
        case Streams.SinkDir(id) => id.toLong
      }
    }.max
    val inputs = compactSeg.map(_._2).toSeq ++ live
    merge(spark.read.parquet(inputs: _*))
      .write.mode("overwrite").parquet(s"$path/compact_$hi")
    // Sweep ONLY once the new compact is provably the served segment:
    // readers require `_SUCCESS` (the crashed-partial guard), and a
    // cluster running with mapreduce.fileoutputcommitter.marksuccessfuljobs
    // =false writes none — deleting the covered batches then would be
    // silent data loss (readers ignore the unmarked compact AND the
    // batches are gone). Re-running segments() is the authoritative
    // check: it applies the exact visibility rule readers apply.
    if (!segments(spark, path)._1.exists(_._1 == hi)) {
      graft.Telemetry.record(s"segmentstore compact_$hi not served " +
        "(no _SUCCESS marker?) - sweep aborted, covered batches retained")
      return
    }
    // best-effort sweep (never load-bearing — readers exclude by name):
    // the covered batch dirs, the superseded compact, and any crashed
    // partial compact_<i> the _SUCCESS guard in segments() was masking
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath).foreach { d =>
      d.getName match {
        case Streams.SinkDir(id) if id.toLong <= hi => fs.delete(d, true); ()
        case CompactDir(id) if id.toLong != hi => fs.delete(d, true); ()
        case _ => ()
      }
    }
  }
}
