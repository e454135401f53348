package graft.ml

import graft.GraftCheckpoint
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hyperparameter grid search (SURVEY §2.10, `tools/params_estim.py:15-326`):
  * deterministic train/test split, per-combination fit + statistic on the
  * test sample, argmax of the score column.
  *
  * The split is per star: a star trains when a hash of its `starId` and
  * `seed`, mapped to [0, 1), is below `splitRatio`. A star's side is thus
  * fixed by its id alone, whatever the input's partitioning or the core
  * count, and the split needs no shuffle or sort. The caller should cache
  * both input frames. Each combination's per-decider statistics are read
  * on the driver and averaged there.
  *
  * Combinations whose deciders are all closed-form ([[MomentDecider]]:
  * LDA/QDA) fit together in three Spark jobs, however many there are:
  *  1. one fold job runs the union of their descriptors once per star (a
  *     descriptor of one class and parameters in several combinations is
  *     computed once) and checkpoints each combination's feature vector
  *     and NaN-row validity, with the train/test flag;
  *  1. ONE moments job over the train rows yields every combination's
  *     per-class moments, and the models are solved on the driver;
  *  1. ONE aggregate over the test rows scores every combination's models.
  * Each combination keeps its own NaN-row drop, and its rows enter the
  * moment sums in the partitions and order its own fit would add them, so
  * its models and statistics are those of a fit of it alone.
  *
  * Any other combination (another decider, or a `CurveDescr` whose
  * `red_dim` reduction is still to fit) runs its own learn and statistic
  * jobs. Those fits are submitted concurrently from a bounded driver pool
  * of `parallelism` threads, next to the one-pass group — the reference's
  * process pool (`params_estim.py:117-136`) as the
  * `TrainValidationSplit(parallelism)` trade: Spark's scheduler interleaves
  * the concurrent jobs, which matters because small fits are
  * scheduling-latency-bound, not data-bound. Such combinations must not
  * share stateful descriptor instances (e.g. the same fitted `CurveDescr`).
  */
final case class TuneCombination(
    label: String,
    descriptors: Seq[Descriptor],
    deciders: Seq[Decider])

final case class TuneResult(
    label: String,
    model: StarsFilterModel,
    stats: Map[String, Double])

class ParamsEstimator(
    searched: DataFrame,
    others: DataFrame,
    combinations: Seq[TuneCombination],
    splitRatio: Double = 0.75,
    seed: Long = 42L,
    parallelism: Int = 4) {

  require(combinations.nonEmpty, "no combinations to tune")

  private val inTrain: Column = ParamsEstimator.inTrain(splitRatio, seed)

  /** Fit every combination, score on the held-out sample, return all results
    * in input order plus the argmax (`fit` + `evaluateCombinations`,
    * `params_estim.py:146-260`).
    */
  def fit(score: String = "precision"): (TuneResult, Seq[TuneResult]) = {
    val (onePass, alone) = combinations.indices.partition { i =>
      val c = combinations(i)
      MomentDecider.all(c.deciders) &&
        !c.descriptors.exists { case cd: CurveDescr => cd.needsFit; case _ => false }
    }
    val fits: Seq[() => Seq[(Int, TuneResult)]] =
      (if (onePass.isEmpty) Nil
       else Seq(() => onePass.zip(fitMoments(onePass.map(combinations))))) ++
        alone.map(i => () => Seq(i -> fitAlone(combinations(i))))
    val results = runAll(fits).flatten.sortBy(_._1).map(_._2)
    val best = results.maxBy(_.stats.getOrElse(score, Double.NegativeInfinity))
    (best, results)
  }

  /** Runs the fits, concurrently from a pool of `parallelism` threads when
    * there is more than one — Spark accepts concurrent job submissions
    * from driver threads and interleaves their stages.
    */
  private def runAll[A](fits: Seq[() => A]): Seq[A] =
    if (fits.lengthCompare(1) == 0) Seq(fits.head())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(parallelism, fits.length)))
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(fits.map(f => Future(f()))), Duration.Inf)
      } finally pool.shutdown()
    }

  private def meanStats(rows: Seq[(String, Seq[Double])]): Map[String, Double] =
    StarsFilterModel.StatColumns.zipWithIndex.map { case (name, i) =>
      name -> rows.map(_._2(i)).sum / rows.length
    }.toMap

  /** One combination's own learn job(s) and statistic job. */
  private def fitAlone(c: TuneCombination): TuneResult = {
    val filter = new StarsFilter(c.descriptors, c.deciders)
    val model = filter.learn(searched.filter(inTrain), others.filter(inTrain))
    val rows = model.deciderStatistics(filter.spaceCoordinates(searched.filter(!inTrain)),
      filter.spaceCoordinates(others.filter(!inTrain)))
    TuneResult(c.label, model, meanStats(rows))
  }

  /** All-[[MomentDecider]] combinations from one descriptor fold, one
    * moments pass over its train rows and one statistic aggregate over its
    * test rows.
    */
  private def fitMoments(combos: Seq[TuneCombination]): Seq[TuneResult] = {
    // one descriptor per distinct (class, parameters); slot s writes its
    // outputs as `_d<s>_<name>`, so same-named outputs of different
    // parameters (two SAX alphabets, say) stay apart
    val shared = scala.collection.mutable.LinkedHashMap.empty[Any, (Descriptor, Int)]
    val featureCols = combos.map(_.descriptors.flatMap { d =>
      val key = d.sharingKey.map(d.getClass -> _).getOrElse(d)
      val slot = shared.getOrElseUpdate(key, (d, shared.size))._2
      d.outputCols.map(c => s"_d${slot}_$c")
    })
    val described = shared.values.foldLeft(
      searched.withColumn("label", lit(1.0))
        .unionByName(others.withColumn("label", lit(0.0)))
        .withColumn("_train", inTrain)) { case (df, (d, slot)) =>
      d.transform(df).withColumnsRenamed(d.outputCols.map(c => c -> s"_d${slot}_$c").toMap)
    }
    // combination i: its vector `_f<i>` (zeros on a row it drops) and its
    // NaN-row validity `_v<i>`; the fold job materializes them for every
    // star, and truncating the lineage keeps the two passes' plans small
    val folded = GraftCheckpoint.stage(described.select(col("label") +: col("_train") +:
      featureCols.zipWithIndex.flatMap { case (cs, i) =>
        val valid = cs.map(c => col(c).isNotNull && !isnan(col(c))).reduce(_ && _)
        Seq(array_to_vector(array(cs.map(c => when(valid, col(c)).otherwise(0.0)): _*)).as(s"_f$i"),
          valid.as(s"_v$i"))
      }: _*), "tune_features")
    val sets = featureCols.indices.map(i =>
      FeatureSet(col(s"_f$i"), col(s"_v$i"), featureCols(i).length))
    val models = GaussianFit.momentsBoth(folded.filter(col("_train")), sets).zip(combos).map {
      case ((m0, m1), c) => MomentDecider.learnAll(c.deciders, m0, m1)
    }
    val stats = StarsFilterModel.deciderStatistics(folded.filter(!col("_train")), sets.zip(models))
    combos.zip(models).zip(stats).map { case ((c, ms), rows) =>
      TuneResult(c.label,
        new StarsFilterModel(c.descriptors, ms, c.descriptors.flatMap(_.outputCols)),
        meanStats(rows))
    }
  }
}

object ParamsEstimator {
  /** True for the stars of the train side (`params_estim.py:80-86`;
    * seedable per survey §7.5.10): the top 53 bits of
    * `xxhash64(starId, seed)` as a uniform draw in [0, 1).
    */
  private[ml] def inTrain(splitRatio: Double, seed: Long): Column =
    shiftrightunsigned(xxhash64(col("starId"), lit(seed)), 11) / (1L << 53).toDouble < splitRatio
}
