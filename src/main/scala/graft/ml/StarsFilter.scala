package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** The composite filter (SURVEY §2.10, `stars_filter.py:13-389`):
  * descriptor fan-out → feature matrix (NaN rows dropped) → N deciders →
  * probability combine → threshold.
  *
  * Spark shape: descriptors are chained Transformers (all per-row kernels —
  * one codegen stage, no shuffle), features assembled into a Vector, each
  * decider trains on the same cached training DataFrame. Evaluation joins
  * nothing: probabilities are appended columns.
  *
  * Deviation (survey §7.5.5, deliberate): rows are keyed by `starId`, never
  * by position, so the NaN-drop can't misalign status bookkeeping.
  */
class StarsFilter(val descriptors: Seq[Descriptor], val deciders: Seq[Decider]) {

  val featureCols: Seq[String] = descriptors.flatMap(_.outputCols)

  /** Descriptor fan-out + NaN-row drop (`getSpaceCoordinates`,
    * `stars_filter.py:170-205`).
    */
  def spaceCoordinates(stars: DataFrame): DataFrame = {
    val withFeatures = descriptors.foldLeft(stars)((df, d) => d.transform(df).toDF())
    val noNan = featureCols.foldLeft(withFeatures) { (df, c) =>
      df.filter(col(c).isNotNull && !isnan(col(c)))
    }
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .transform(noNan)
  }

  /** Train every decider on searched (label 1) vs contamination (label 0)
    * (`learn`, `stars_filter.py:150-168`).
    */
  def learn(searched: DataFrame, others: DataFrame): StarsFilterModel = {
    // fit-at-train-time stages (survey §7.5.9): CurveDescr's red_dim PCA is
    // fitted on the combined sample — the same batch the reference's
    // `learn` → `getSpaceCoordinates(searched+others)` first sees
    descriptors.foreach {
      case cd: CurveDescr if cd.needsFit =>
        cd.fitReduction(searched.unionByName(others))
      case _ =>
    }
    learnOnCoords(spaceCoordinates(searched), spaceCoordinates(others))
  }

  /** Train on precomputed feature coordinates (`learnOnCoords`,
    * `stars_filter.py:119-148`) — lets callers compute the descriptor
    * fan-out ONCE and reuse it for training and evaluation.
    */
  def learnOnCoords(searchedCoords: DataFrame, othersCoords: DataFrame): StarsFilterModel = {
    val train = searchedCoords.withColumn("label", lit(1.0))
      .unionByName(othersCoords.withColumn("label", lit(0.0)))
      .select("features", "label")
    // Closed-form deciders (LDA/QDA) all fit from the same per-class moment
    // sums, so when every decider is moment-based the whole learn path is
    // ONE distributed pass: the shared treeAggregate yields (n, Σx, Σxxᵀ)
    // per class — the class counts for the emptiness check included — and
    // each model is solved on the driver. No cache (single consumer), no
    // per-decider count/probe/aggregate jobs, no thread pool.
    if (deciders.nonEmpty && deciders.forall(_.isInstanceOf[MomentDecider])) {
      val (m0, m1) = GaussianFit.momentsBoth(train, dim = featureCols.length)
      require(m1._1 > 0 && m0._1 > 0, "Decider can't be learned on an empty sample")
      val models = deciders.map(_.asInstanceOf[MomentDecider].learnFromMoments(m0, m1))
      return new StarsFilterModel(descriptors, models, featureCols)
    }
    val cached = train.cache()
    try {
      // one aggregation materializes the cache AND checks both classes
      val counts = cached.agg(
        sum(when(col("label") === 1.0, 1).otherwise(0)),
        sum(when(col("label") === 0.0, 1).otherwise(0))).head()
      require(!counts.isNullAt(0) && counts.getLong(0) > 0 && counts.getLong(1) > 0,
        "Decider can't be learned on an empty sample")
      // deciders fit concurrently over the cached train set (each fit is a
      // distributed job; Spark interleaves them)
      val models =
        if (deciders.lengthCompare(1) <= 0) deciders.map(_.learn(cached))
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(4, deciders.length))
          try {
            implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
            Await.result(
              Future.sequence(deciders.map(d => Future(d.learn(cached)))), Duration.Inf)
          } finally pool.shutdown()
        }
      new StarsFilterModel(descriptors, models, featureCols)
    } finally cached.unpersist()
  }
}

object StarsFilterModel {
  /** The statistic columns of [[StarsFilterModel.getStatistic]], after `decider`. */
  val StatColumns: Seq[String] = Seq("precision", "accuracy", "f1_score",
    "true_positive_rate", "true_negative_rate", "false_positive_rate", "false_negative_rate")
}

class StarsFilterModel(val descriptors: Seq[Descriptor],
                       val models: Seq[DeciderModel],
                       val featureCols: Seq[String]) extends Serializable {

  private def filterInstance = new StarsFilter(descriptors, Nil)

  def probCols: Seq[String] = models.map(m => s"prob_${m.name}")

  /** Score coordinates with every decider — the one scoring fold every
    * evaluation path shares.
    */
  private def score(coords: DataFrame): DataFrame =
    models.foldLeft(coords)((df, m) => m.evaluate(df))

  /** Evenly spaced `n`-point axis over [lo, hi] (degenerate n=1 → lo). */
  private def linspace(spark: SparkSession, name: String,
                       lo: Double, hi: Double, n: Int): DataFrame = {
    val step = if (n > 1) (hi - lo) / (n - 1) else 0.0
    spark.range(0, n.toLong.max(1L)).select((lit(lo) + col("id") * step).as(name))
  }

  /** The `getAllPredictions` column contract (`stars_filter.py:264-288`):
    * feature columns, per-decider probability + passed flag, and the AND'd
    * `passed` column.
    */
  def getAllPredictions(stars: DataFrame): DataFrame =
    predictOnCoords(filterInstance.spaceCoordinates(stars))

  /** Score precomputed feature coordinates — the reuse seam for callers
    * that already hold the descriptor fan-out (one pass instead of
    * re-deriving features per evaluation).
    */
  def predictOnCoords(coords: DataFrame): DataFrame = {
    val scored = score(coords)
    // >= like the reference's filter (`base_decider.py:131`), so passed_*
    // agrees with getStatistic's hit counting at exact-threshold scores
    val withPassed = models.foldLeft(scored) { (df, m) =>
      df.withColumn(s"passed_${m.name}", col(s"prob_${m.name}") >= m.threshold)
    }
    val allPassed = models.map(m => col(s"passed_${m.name}"))
      .reduce(_ && _)
    withPassed.withColumn("passed", allPassed)
  }

  /** Combined probability (`evaluateCoordinates`, `stars_filter.py:290-327`):
    * meth ∈ lowest/mean/highest, rounded to 2 decimals like the reference.
    */
  def evaluateCoordinates(scored: DataFrame, meth: String = "mean"): DataFrame = {
    val ps = probCols.map(col)
    val combined: Column = meth match {
      case "lowest"  => least(ps: _*)
      case "highest" => greatest(ps: _*)
      case "mean"    => ps.reduce(_ + _) / ps.length
      case other     => throw new IllegalArgumentException(s"Invalid method $other")
    }
    // bround = HALF_EVEN, matching the reference's `round(np.mean(coo), 2)`
    // (numpy scalars round half-even) and this repo's other rint paths
    scored.withColumn("combined_prob", bround(combined, 2))
  }

  /** `filterStars` (`stars_filter.py:77-117`): keep stars whose combined
    * probability ≥ MEAN of decider thresholds; pass_method all/mean/one →
    * lowest/mean/highest combine.
    */
  def filterStars(stars: DataFrame, passMethod: String = "all"): DataFrame = {
    val meth = passMethod match {
      case "all"  => "lowest"
      case "mean" => "mean"
      case "one"  => "highest"
      case other  => throw new IllegalArgumentException(s"Invalid filtering method $other")
    }
    val threshold = models.map(_.threshold).sum / models.length
    val scored = score(filterInstance.spaceCoordinates(stars))
    evaluateCoordinates(scored, meth).filter(col("combined_prob") >= threshold)
  }

  /** Confusion-matrix statistics per decider + column-wise mean
    * (`base_decider.py:133-197`, `stars_filter.py:330-368`): one row per
    * decider plus a `mean` row; rates rounded to 3 decimals like the
    * reference.
    */
  def getStatistic(searched: DataFrame, others: DataFrame): DataFrame =
    getStatisticOnCoords(filterInstance.spaceCoordinates(searched),
      filterInstance.spaceCoordinates(others))

  /** Statistics over precomputed coordinates (the reference's deciders also
    * consume coords, `base_decider.py:133-197`).
    */
  def getStatisticOnCoords(searchedCoords: DataFrame, othersCoords: DataFrame): DataFrame = {
    val spark = searchedCoords.sparkSession
    val schema = StructType(StructField("decider", StringType) +:
      StarsFilterModel.StatColumns.map(StructField(_, DoubleType, nullable = false)))
    val perDecider = spark.createDataFrame(
      deciderStatistics(searchedCoords, othersCoords)
        .map { case (name, v) => Row.fromSeq(name +: v) }.asJava, schema)
    val meanRow = perDecider.groupBy().agg(lit("mean").as("decider"),
      StarsFilterModel.StatColumns.map(c => avg(c).as(c)): _*)
    perDecider.unionByName(meanRow)
  }

  /** The per-decider rows of [[getStatisticOnCoords]] (no mean row), read
    * on the driver: decider name → values in [[StarsFilterModel.StatColumns]]
    * order.
    */
  def deciderStatistics(searchedCoords: DataFrame,
                        othersCoords: DataFrame): Seq[(String, Seq[Double])] = {
    // ONE aggregation job computes both samples' n and every decider's hit
    // count: the two per-sample aggregates are label-conditional sums over
    // the union (guide §1 fewer jobs). No caches — each scored branch is
    // consumed exactly once, and the underlying coords are the caller's
    // (already cached/checkpointed) frame.
    val tagged = predictOnCoords(searchedCoords).withColumn("_cls", lit(1))
      .unionByName(predictOnCoords(othersCoords).withColumn("_cls", lit(0)))
    def cls(v: Int) = col("_cls") === v
    val aggs =
      Seq(sum(when(cls(1), 1).otherwise(0)).cast("double").as("s_n"),
          sum(when(cls(0), 1).otherwise(0)).cast("double").as("o_n")) ++
      models.flatMap { m =>
        Seq(
          sum(when(cls(1) && col(s"prob_${m.name}") >= m.threshold, 1).otherwise(0))
            .cast("double").as(s"s_${m.name}"),
          sum(when(cls(0) && col(s"prob_${m.name}") < m.threshold, 1).otherwise(0))
            .cast("double").as(s"o_${m.name}"))
      }
    val row = tagged.agg(aggs.head, aggs.tail: _*).head()
    val all = row.schema.fieldNames.zipWithIndex
      .map { case (f, i) => f -> row.getDouble(i) }.toMap
    val sc = all.collect { case (k, v) if k.startsWith("s_") => k.drop(2) -> v }
    val oc = all.collect { case (k, v) if k.startsWith("o_") => k.drop(2) -> v }
    val rightNum = sc("n")
    val wrongNum = oc("n")
    models.map { m =>
      val tp = sc(m.name)
      val tn = oc(m.name)
      val fp = wrongNum - tn
      val fn = rightNum - tp
      val precision = if (tp + fp > 0) tp / (tp + fp) else 0.0
      m.name -> Seq(
        math.rint(precision * 1000) / 1000,
        (tp + tn) / (rightNum + wrongNum),
        2 * tp / (2 * tp + fp + fn),
        math.rint(tp / rightNum * 1000) / 1000,
        math.rint(tn / wrongNum * 1000) / 1000,
        math.rint((1 - tn / wrongNum) * 1000) / 1000,
        math.rint((1 - tp / rightNum) * 1000) / 1000)
    }
  }

  /** Grid-evaluated probability space (`tools/visualization.py:117-199`
    * `plotProbabSpace` data product, SURVEY §2.10): an evenly spaced
    * meshgrid over each feature's [min, max], scored by every decider —
    * the DataFrame any frontend can contour-plot. Built as a crossJoin of
    * per-dimension sequences (`get_combinations` shape), evaluated
    * distributed.
    */
  def probabilitySpace(stars: DataFrame, gridPerDim: Int = 20): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    val spark = stars.sparkSession
    val coords = filterInstance.spaceCoordinates(stars)
    val aggs = featureCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val bounds = coords.agg(aggs.head, aggs.tail: _*).head()
    val axes = featureCols.map { c =>
      linspace(spark, c,
        bounds.getAs[Double](s"min_$c"), bounds.getAs[Double](s"max_$c"), gridPerDim)
    }
    val grid = axes.reduce(_ crossJoin _)
    val vec = new VectorAssembler().setInputCols(featureCols.toArray)
      .setOutputCol("features").transform(grid)
    score(vec)
  }

  /** N-D probability space (`tools/visualization.py:117-199`
    * `plotNDProbabSpace` data product): fit a 2-component PCA on the
    * training coordinates, mesh an `n × n` grid over the PCA plane
    * (reference OVERLAY = 0.4 margin beyond the projected extremes),
    * inverse-transform each grid point back to feature space, and score it
    * with every decider. The PCA mean/components are tiny driver constants
    * baked into column expressions, so the grid itself is built and
    * evaluated distributed — no collect of anything data-sized.
    */
  def probabilitySpaceND(searched: DataFrame, others: DataFrame,
                         gridPerDim: Int = 20, overlay: Double = 0.4): DataFrame =
    probabilitySpaceNDOnCoords(
      filterInstance.spaceCoordinates(searched),
      filterInstance.spaceCoordinates(others), gridPerDim, overlay)

  /** As [[probabilitySpaceND]] but over precomputed coordinates — the reuse
    * seam for callers already holding the descriptor fan-out.
    */
  def probabilitySpaceNDOnCoords(sCoords: DataFrame, oCoords: DataFrame,
                                 gridPerDim: Int = 20, overlay: Double = 0.4): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.stat.Summarizer
    val spark = sCoords.sparkSession
    // ONE cached pass of the (possibly expensive) input coords feeds the
    // mean, the PCA fit AND the projected-extremes aggregate
    val all = sCoords.unionByName(oCoords)
      .select(col("features").as("_vec") +: featureCols.map(col): _*)
      .cache()
    try {
      // sklearn PCA: center on the sample mean, components from covariance
      val mean = all.select(Summarizer.mean(col("_vec")).as("m"))
        .head().getAs[org.apache.spark.ml.linalg.Vector]("m").toArray
      val pc = new org.apache.spark.ml.feature.PCA()
        .setInputCol("_vec").setOutputCol("_red").setK(2).fit(all).pc
      val d = featureCols.length
      val comp = Array.tabulate(2)(j => Array.tabulate(d)(i => pc(i, j)))
      // deterministic orientation: an eigenvector's sign is solver
      // convention (LAPACK here), not geometry — flip each component so
      // its largest-|coefficient| entry (ties → lowest index) is positive.
      // The mesh and scores become solver-independent, which is what lets
      // q71's SQL oracle (power iteration) reproduce them exactly.
      for (j <- 0 until 2) {
        val iMax = (0 until d).maxBy(i => (math.abs(comp(j)(i)), -i))
        if (comp(j)(iMax) < 0) (0 until d).foreach(i => comp(j)(i) = -comp(j)(i))
      }
      // projected extremes of the training coords (one small agg)
      def proj(j: Int): Column =
        featureCols.zipWithIndex.map { case (c, i) =>
          (col(c) - mean(i)) * comp(j)(i)
        }.reduce(_ + _)
      val b = all
        .select(proj(0).as("px"), proj(1).as("py"))
        .agg(min("px"), max("px"), min("py"), max("py")).head()
      val (xmin, xmax, ymin, ymax) =
        (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
      val (xw, yw) = (xmax - xmin, ymax - ymin)
      val grid = linspace(spark, "x", xmin - xw * overlay, xmax + xw * overlay, gridPerDim)
        .crossJoin(linspace(spark, "y", ymin - yw * overlay, ymax + yw * overlay, gridPerDim))
      // inverse_transform: feature_i = mean_i + x·c0_i + y·c1_i
      val back = featureCols.zipWithIndex.foldLeft(grid) { case (df, (c, i)) =>
        df.withColumn(c, lit(mean(i)) + col("x") * comp(0)(i) + col("y") * comp(1)(i))
      }
      val vec = new VectorAssembler().setInputCols(featureCols.toArray)
        .setOutputCol("features").transform(back)
      evaluateCoordinates(score(vec))
    } finally all.unpersist()
  }

  /** ROC sweep (`getROC`, `stars_filter.py:370-376`): n thresholds in
    * [0.01, 0.99] → (threshold, fpr, tpr) in one aggregation pass over the
    * scored data (not n passes).
    */
  def roc(searched: DataFrame, others: DataFrame, nPoints: Int = 20): DataFrame = {
    val spark = searched.sparkSession
    val s = evaluateCoordinates(score(filterInstance.spaceCoordinates(searched)))
      .withColumn("label", lit(1))
    val o = evaluateCoordinates(score(filterInstance.spaceCoordinates(others)))
      .withColumn("label", lit(0))
    val scored = s.unionByName(o).select("combined_prob", "label")
    val thresholds = linspace(spark, "thr", 0.01, 0.99, nPoints)
    scored.crossJoin(broadcast(thresholds))
      .groupBy("thr")
      .agg(
        (sum(when(col("combined_prob") >= col("thr") && col("label") === 1, 1)
          .otherwise(0)) / sum(col("label"))).as("tpr"),
        (sum(when(col("combined_prob") >= col("thr") && col("label") === 0, 1)
          .otherwise(0)) / sum(lit(1) - col("label"))).as("fpr"))
      .orderBy("thr")
  }
}
