package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming top-quality selection serving STORED decile boundaries — the
  * q81/q82/q83 serving pattern applied to q88: a nightly batch job
  * materializes the corpus's nine quality-score boundaries; the ingest
  * stream scores each document with the SAME shared kernel
  * ([[TextAnalysis.qualityScored]]), buckets it against the stored
  * boundaries with the SAME tie rule ([[TextAnalysis.decileOf]]), and
  * routes the top-quality slice to the keep sink.
  *
  * Like the index-serving paths, boundaries are resolved ONCE at query
  * start (9 doubles of driver state riding the closure) — per-batch work
  * is a pure per-row map plus two appends. The restart-on-rebuild
  * contract is ENFORCED the way the band/ANN/IVF indexes enforce it: the
  * build carries [[graft.operators.IndexMeta]] with a per-build nonce,
  * and the gate resolves the boundaries through [[Streams.guard]] — a
  * re-materialized boundary build under a running stream fails the next
  * batch loudly instead of being served stale.
  */
object StreamingDecileGate {

  /** Materialize the decile boundaries of `dir`'s documents corpus —
    * the batch half of the serving pair (one aggregate, one tiny file).
    */
  def writeBoundaries(spark: SparkSession, dir: String, outPath: String): Unit =
    graft.operators.IndexMeta.commit(spark, outPath, "graft decile boundaries") {
      TextAnalysis.decileBoundaries(
        TextAnalysis.qualityScored(graft.Tables.load(spark, dir, "documents")))
        .write.mode("overwrite").parquet(s"$outPath/bounds")
      Seq("kind" -> "decile_boundaries", "score" -> "distinct_ratio",
        "probs" -> "0.1..0.9")
    }

  def run(spark: SparkSession, docDir: String, docSchema: StructType,
          boundariesPath: String, keepPath: String, restPath: String,
          checkpoint: String, minDecile: Int = 9,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // resolved ONCE: 9 doubles, baked into the per-batch plan as a
    // literal; each batch re-checks and fails instead of serving retired
    // boundaries
    val (bsCol, check) = Streams.guard(spark, boundariesPath) {
      val bs: Seq[Double] =
        spark.read.parquet(s"$boundariesPath/bounds").head().getSeq[Double](0)
      array(bs.map(lit): _*)
    }
    val docs = spark.readStream.schema(docSchema).parquet(docDir)
    val scored = TextAnalysis.qualityScored(docs)
      .withColumn("decile", TextAnalysis.decileOf(col("score"), bsCol))
    Streams.run(scored, checkpoint, trigger) { (batch, batchId) =>
      check()
      Streams.fanOut(batch, batchId)(
        (keepPath, _.filter(col("decile") >= minDecile)),
        (restPath, _.filter(col("decile") < minDecile)))
    }
  }
}
