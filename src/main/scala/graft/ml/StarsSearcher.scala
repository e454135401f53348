package graft.ml

import java.util.UUID
import java.util.concurrent.{ExecutionException, FutureTask}

import scala.util.Try

import graft.sources.{QuerySpec, StarsProvider}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Systematic filtered search (SURVEY §2.10 + §3.1,
  * `systematic_search/stars_searcher.py:63-234`): a query table drives the
  * source, every fetched star runs through the trained filter, matches go
  * to the matched-star sink and every star's probabilities go to the
  * append-mode status sink.
  *
  * Spark restatement of the reference's sequential per-query loop: the
  * connector fetches the whole query batch
  * ([[graft.sources.StarsConnector.fetch]]), every fetched star is scored
  * in ONE cached pass, and both sinks are written from that cache.
  * A `.dat` batch with fresh sinks runs three jobs, none of which
  * shuffles: one fills the cache and reads back which queries fetched a
  * star, then the two appends, one per sink, which run side by side. The
  * status rows are staged and land only after the matched append commits,
  * so resume never skips a query whose matches were lost. The reference's
  * Redis work queue (`stars_searcher.py:267-346`) is subsumed by partition
  * parallelism; its status-file resume (`getUnsearchedQuery`,
  * `status_resolver.py:53-76`) is the left_anti join in
  * [[unsearchedQueries]].
  */
class StarsSearcher(
    model: StarsFilterModel,
    connectorName: String,
    matchedPath: String,
    statusPath: String) {

  /** Resume support: queries minus those already present in the status sink
    * (anti join on the query id). A status path that is missing or holds no
    * data file means nothing was searched yet; any other failure to read it
    * raises, as re-running done queries would append duplicate rows.
    */
  def unsearchedQueries(spark: SparkSession, queries: DataFrame): DataFrame = {
    val p = new Path(statusPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.exists(p) && fs.listStatus(p).exists(f => isData(f.getPath))
    if (!hasData) return queries
    val done = spark.read.parquet(statusPath).select(col("query_id")).distinct()
    queries.join(done, Seq("query_id"), "left_anti")
  }

  /** Run the search for a query table with columns `query_id` + connector
    * params (as a map column `params`). Returns this call's rows of the
    * status sink, read back from it (every column nullable, as parquet
    * reads are).
    *
    * Three Spark jobs: one fills the scored cache and reads back the hit
    * queries, then the matched and the status append run at once
    * (`appendBoth`). The status rows are written to a hidden directory
    * of the status sink and moved into it only after the matched append
    * has committed.
    */
  def queryStars(spark: SparkSession, queries: DataFrame): DataFrame = {
    import spark.implicits._
    // the query table is config-sized, so collecting it is bounded driver
    // state — the connector's scan is what matters
    val todo = unsearchedQueries(spark, queries).select(col("query_id"), col("params"))
      .as[(String, Map[String, String])].collect().toSeq
    if (todo.isEmpty) return spark.emptyDataFrame
    val stars = StarsProvider.getProvider(connectorName)
      .fetch(spark, todo.map { case (qid, params) => qid -> QuerySpec(params) })
    val asked = todo.map(_._1)

    val probCols = model.models.map(m => s"prob_${m.name}")
    val passedCols = model.models.map(m => s"passed_${m.name}")
    // ONE cached scoring pass over every fetched star feeds both sinks
    val scored = model.scoreEveryRow(stars).cache()
    try {
      // filling the cache also reads back which queries fetched a star
      // (distinct per partition, merged here: no shuffle)
      val hit = scored.select("query_id").as[String]
        .mapPartitions(_.toSet.iterator).collect().toSet
      val files = sinkFiles(spark, scored)
      // each sink's frame is built on the thread that writes it (`appendBoth`)
      // matched-star sink (reference: one FITS per match — here append parquet
      // of the full star rows, the scalable native sink)
      def matched = scored.filter(col("passed"))
        .drop(model.featureCols ++ probCols ++ passedCols: _*)
        .drop("features", "passed")
        .coalesce(files)
      // Status notes EVERY queried star (`uploadStatus`, stars_searcher.py:
      // 188-215): stars without usable features are found=true /
      // passed=false with null features, and zero-hit queries record a
      // found=false "Noname" row (`stars_searcher.py:100-105`) so the
      // resume anti-join converges instead of re-running them forever.
      def status = {
        val perStar = scored.select(Seq(col("query_id"), col("starId"),
          lit(true).as("found"),
          (size(col("lightCurves")) > 0 &&
            size(col("lightCurves").getItem(0).getField("mag")) > 0).as("lc")) ++
          (model.featureCols ++ probCols ++ passedCols :+ "passed").map(col): _*)
        val noHit = asked.filterNot(hit)
        (if (noHit.isEmpty) perStar else perStar.unionByName(
            noHit.toDF("query_id").select(col("query_id"), lit("Noname").as("starId"),
              lit(false).as("found"), lit(false).as("lc")),
            allowMissingColumns = true))
          .select(Seq(col("query_id"), col("starId"), col("found"), col("lc")) ++
            (model.featureCols ++ probCols).map(col) ++
            (passedCols :+ "passed").map(c => coalesce(col(c), lit(false)).as(c)): _*)
          .coalesce(files)
      }
      val statusSchema = appendBoth(spark, matched, status)
      // the rows just written, read back: a frame over `scored` would re-run
      // the fetch and scoring once the `finally` drops the cache, and the
      // given schema spares parquet's schema-inference job
      spark.read.schema(statusSchema).parquet(statusPath)
        .filter(col("query_id").isin(asked: _*))
    } finally scored.unpersist()
  }

  /** Appends `matched` to the matched sink and `status` to the status sink
    * and returns the status rows' schema. Both frames are built and written
    * at once: the matched append on a fresh thread that carries no SQL
    * execution id, the status write on the caller's into a hidden
    * `_pending-<uuid>` directory of the status sink, which readers skip.
    * Only once the matched append has committed do the status part files
    * move into the sink, so a query's status rows, which mark it searched
    * for [[unsearchedQueries]], never land before its matches. On any
    * failure both writes are waited for, the pending directory is deleted
    * and the error rethrown (the status write's, if both failed).
    */
  private def appendBoth(spark: SparkSession, matched: => DataFrame,
                         status: => DataFrame): StructType = {
    val matchedAppend = new FutureTask[Unit](() => {
      spark.sparkContext.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
      matched.write.mode(SaveMode.Append).parquet(matchedPath)
    })
    val thread = new Thread(matchedAppend, "stars-searcher-matched-append")
    thread.setDaemon(true)
    thread.start()
    val sink = new Path(statusPath)
    val pending = new Path(sink, s"_pending-${UUID.randomUUID()}")
    val fs = sink.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val statusWrite = Try {
        val df = status
        df.write.parquet(pending.toString)
        df.schema
      }
      val matchedCommit = Try(matchedAppend.get()).recover {
        case e: ExecutionException => throw e.getCause
      }
      val schema = statusWrite.get
      matchedCommit.get
      fs.listStatus(pending).map(_.getPath).filter(isData).foreach { p =>
        if (!fs.rename(p, new Path(sink, p.getName)))
          throw new java.io.IOException(s"could not move $p into $sink")
      }
      schema
    } finally fs.delete(pending, true)
  }

  /** A data file of a sink: hidden (`_`, `.`) names are markers, checksums
    * and staged writes, which parquet readers skip too.
    */
  private def isData(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** Files per sink: one per `spark.sql.files.maxPartitionBytes` of the
    * cached scored rows, at least one — the scan's split rule applied to
    * the write, so a small batch writes one file and the descriptor tasks
    * keep the scan's width.
    */
  private def sinkFiles(spark: SparkSession, cached: DataFrame): Int = {
    val bytes = cached.queryExecution.optimizedPlan
      .collectFirst { case r: InMemoryRelation => r.computeStats().sizeInBytes }
      .getOrElse(BigInt(0))
    val perFile = spark.sessionState.conf.filesMaxPartitionBytes
    ((bytes + perFile - 1) / perFile).max(BigInt(1)).toInt
  }
}
