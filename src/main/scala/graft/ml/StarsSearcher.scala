package graft.ml

import graft.sources.{QuerySpec, StarsProvider}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

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
  * star, then one append per sink. The reference's Redis work queue
  * (`stars_searcher.py:267-346`) is subsumed by partition parallelism; its
  * status-file resume (`getUnsearchedQuery`, `status_resolver.py:53-76`)
  * is the left_anti join in [[unsearchedQueries]].
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
    val hasData = fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData) return queries
    val done = spark.read.parquet(statusPath).select(col("query_id")).distinct()
    queries.join(done, Seq("query_id"), "left_anti")
  }

  /** Run the search for a query table with columns `query_id` + connector
    * params (as a map column `params`). Returns this call's rows of the
    * status sink, read back from it (every column nullable, as parquet
    * reads are).
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
      // matched-star sink (reference: one FITS per match — here append parquet
      // of the full star rows, the scalable native sink)
      scored.filter(col("passed"))
        .drop(model.featureCols ++ probCols ++ passedCols: _*)
        .drop("features", "passed")
        .coalesce(files)
        .write.mode(SaveMode.Append).parquet(matchedPath)
      // Status notes EVERY queried star (`uploadStatus`, stars_searcher.py:
      // 188-215): stars without usable features are found=true /
      // passed=false with null features, and zero-hit queries record a
      // found=false "Noname" row (`stars_searcher.py:100-105`) so the
      // resume anti-join converges instead of re-running them forever.
      val perStar = scored.select(Seq(col("query_id"), col("starId"),
        lit(true).as("found"),
        (size(col("lightCurves")) > 0 &&
          size(col("lightCurves").getItem(0).getField("mag")) > 0).as("lc")) ++
        (model.featureCols ++ probCols ++ passedCols :+ "passed").map(col): _*)
      val noHit = asked.filterNot(hit)
      val status = (if (noHit.isEmpty) perStar else perStar.unionByName(
          noHit.toDF("query_id").select(col("query_id"), lit("Noname").as("starId"),
            lit(false).as("found"), lit(false).as("lc")),
          allowMissingColumns = true))
        .select(Seq(col("query_id"), col("starId"), col("found"), col("lc")) ++
          (model.featureCols ++ probCols).map(col) ++
          (passedCols :+ "passed").map(c => coalesce(col(c), lit(false)).as(c)): _*)
      status.coalesce(files).write.mode(SaveMode.Append).parquet(statusPath)
      // the rows just written, read back: a frame over `scored` would re-run
      // the fetch and scoring once the `finally` drops the cache, and the
      // given schema spares parquet's schema-inference job
      spark.read.schema(status.schema).parquet(statusPath)
        .filter(col("query_id").isin(asked: _*))
    } finally scored.unpersist()
  }

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
