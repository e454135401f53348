package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hyperparameter grid search (SURVEY §2.10, `tools/params_estim.py:15-326`):
  * deterministic train/test split, per-combination fit + statistic on the
  * test sample, argmax of the score column.
  *
  * The split is per star: a star trains when a hash of its `starId` and
  * `seed`, mapped to [0, 1), is below `splitRatio`. A star's side is thus
  * fixed by its id alone, whatever the input's partitioning or the core
  * count, and the split needs no shuffle, sort or cache. The estimator
  * keeps no caches of its own: both sides are filters over the caller's
  * frames, which the caller should cache (every combination reads them
  * twice). Each combination's per-decider statistics are read on the
  * driver and averaged there, so a combination costs one learn job and
  * one statistic job.
  *
  * The reference parallelizes combinations with a process pool
  * (`params_estim.py:117-136`); here each fit is data-parallel on the
  * cluster AND combinations are submitted concurrently from a bounded
  * driver pool — the `TrainValidationSplit(parallelism)` trade. Spark's
  * scheduler interleaves the concurrent jobs across executors, which
  * matters because small fits are scheduling-latency-bound, not data-bound.
  * Combinations must not share stateful descriptor instances (e.g. the
  * same fitted `CurveDescr`) across entries.
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

  /** True for the stars of the train side (`params_estim.py:80-86`;
    * seedable per survey §7.5.10): the top 53 bits of
    * `xxhash64(starId, seed)` as a uniform draw in [0, 1).
    */
  private val inTrain: Column =
    shiftrightunsigned(xxhash64(col("starId"), lit(seed)), 11) / (1L << 53).toDouble < splitRatio

  /** Fit every combination, score on the held-out sample, return all results
    * plus the argmax (`fit` + `evaluateCombinations`,
    * `params_estim.py:146-260`).
    */
  def fit(score: String = "precision"): (TuneResult, Seq[TuneResult]) = {
    val (sTrain, sTest) = (searched.filter(inTrain), searched.filter(!inTrain))
    val (oTrain, oTest) = (others.filter(inTrain), others.filter(!inTrain))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, combinations.length)))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // one future per combination — Spark accepts concurrent job
      // submissions from driver threads and interleaves their stages
      val futures = combinations.map { c =>
        Future {
          val filter = new StarsFilter(c.descriptors, c.deciders)
          val model = filter.learn(sTrain, oTrain)
          val rows = model.deciderStatistics(
            filter.spaceCoordinates(sTest), filter.spaceCoordinates(oTest)).map(_._2)
          val stats = StarsFilterModel.StatColumns.zipWithIndex.map { case (name, i) =>
            name -> rows.map(_(i)).sum / rows.length
          }.toMap
          TuneResult(c.label, model, stats)
        }
      }
      val results = Await.result(Future.sequence(futures), Duration.Inf)
      val best = results.maxBy(_.stats.getOrElse(score, Double.NegativeInfinity))
      (best, results)
    } finally pool.shutdown()
  }
}
