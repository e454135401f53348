package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The shared sink contract of [[Streams.fanOut]]: a replayed batch id
  * re-places its own directory in every sink, a new id adds one, and both
  * a plain batch read and a file-stream source over a sink see every row.
  */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def dirs(path: String): Set[String] =
    new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSet

  test("fanOut overwrites each sink's batch directory and adds one per new id") {
    val tmp = java.nio.file.Files.createTempDirectory("fanout").toString
    val (even, odd) = (s"$tmp/even", s"$tmp/odd")
    def write(ids: Seq[Long], batchId: Long): Unit =
      Streams.fanOut(ids.toDF("id"), batchId)(
        (even, _.filter(col("id") % 2 === 0)),
        (odd, _.filter(col("id") % 2 =!= 0)))
    def ids(path: String): Seq[Long] =
      spark.read.parquet(path).select("id").as[Long].collect().toSeq.sorted

    assertNoCachedFrames("fanOut")(write(1L to 6L, 0L))
    write(1L to 6L, 0L) // replay of batch 0
    assert(ids(even) == Seq(2L, 4L, 6L), "a replay must leave one copy of its rows")
    assert(ids(odd) == Seq(1L, 3L, 5L), "a replay must leave one copy of its rows")
    assert(dirs(even) == Set("batch_id=0") && dirs(odd) == Set("batch_id=0"))

    write(7L to 8L, 1L)
    assert(dirs(even) == Set("batch_id=0", "batch_id=1"))
    assert(ids(even) == Seq(2L, 4L, 6L, 8L) && ids(odd) == Seq(1L, 3L, 5L, 7L))
    assert(spark.read.parquet(Streams.sink(even, 1L)).count() == 1)
  }

  test("a plain read and a file-stream source over a sink both see every row") {
    val tmp = java.nio.file.Files.createTempDirectory("sinkread").toString
    val sink = s"$tmp/sink"
    Seq(0L -> Seq(1L, 2L), 1L -> Seq(3L), 2L -> Seq(4L, 5L, 6L)).foreach {
      case (b, ids) => Streams.fanOut(ids.toDF("id"), b)((sink, identity))
    }
    val plain = spark.read.parquet(sink)
    assert(plain.select("id").as[Long].collect().toSet == (1L to 6L).toSet)
    assert(plain.select("id", "batch_id").as[(Long, Int)].collect().toSet ==
      Set(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 2, 5L -> 2, 6L -> 2),
      "the batch id reads back as the partition column")

    // a downstream stream over the sink, with no option
    val q = Streams.run(spark.readStream.schema(plain.schema).parquet(sink),
      s"$tmp/ckpt", Trigger.AvailableNow()) { (batch, batchId) =>
      Streams.fanOut(batch, batchId)((s"$tmp/copy", identity))
    }
    q.awaitTermination()
    assert(spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/copy")
      .select("id").as[Long].collect().toSet == (1L to 6L).toSet,
      "a file-stream source must see every batch directory of the sink")
  }
}
