package graft.streaming

import graft.ml.StarsFilterModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming form of the systematic search (SURVEY §2.11): the
  * reference's append-only status file + resume loop
  * (`status_resolver.py:53-76`) maps onto checkpointed streaming — the
  * checkpoint IS `getUnsearchedQuery`, and the status sink is the
  * per-batch output of [[Streams.run]].
  *
  * Scale: a file-source stream of star rows (or any source with the star
  * schema); each micro-batch runs the trained filter exactly like batch
  * mode.
  */
object StreamingSearch {

  /** Stream star rows from a parquet directory (new files = new stars),
    * score each micro-batch with the trained filter, append matches and
    * status. Every streamed star gets a status row: like
    * `StarsSearcher.queryStars` it scores with `scoreEveryRow`, so a star
    * with a null or NaN feature gets null `prob_*` and `passed = false`.
    */
  def run(spark: SparkSession, model: StarsFilterModel, starDir: String,
          matchedPath: String, statusPath: String,
          checkpoint: String): StreamingQuery = {
    val stars = spark.readStream.schema(graft.model.Star.schema).parquet(starDir)
    val statusCols = Seq(col("starId")) ++
      model.models.map(m => col(s"prob_${m.name}")) :+ col("passed")
    Streams.run(stars, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty)
        Streams.fanOut(model.scoreEveryRow(batch), batchId)(
          (matchedPath, _.filter(col("passed")).select("starId", "starClass")),
          (statusPath, _.select(statusCols: _*)))
    }
  }
}
