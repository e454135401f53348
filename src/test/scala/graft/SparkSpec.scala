package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Spark jobs `body` runs, counted through a job group. */
  def jobsFor(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
    // statusTracker fills asynchronously; poll until stable
    var n = -1
    var same = 0
    while (same < 3) {
      Thread.sleep(100)
      val m = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      if (m == n) same += 1 else { n = m; same = 0 }
    }
    n
  }
}
