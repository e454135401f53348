package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decider separability, mirroring the reference's
  * `test/stars_processing/test_deciders.py`: two random 7-dim clusters
  * offset by +1; a trained decider must assign clearly higher probability
  * to the searched cluster.
  */
class DecidersSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private val dim = 7

  private def cluster(offset: Double, n: Int): DataFrame =
    (1 to n).map { _ =>
      Tuple1(Vectors.dense(Array.fill(dim)(rng.nextDouble() + offset)))
    }.toDF("features")

  private lazy val searched = cluster(1.0, 100).withColumn("label", lit(1.0)).cache()
  private lazy val others = cluster(0.0, 100).withColumn("label", lit(0.0)).cache()
  private lazy val train = searched.unionByName(others).cache()

  private def separation(decider: Decider): Double = {
    val m = decider.learn(train)
    val ps = m.evaluate(searched).agg(avg(col(s"prob_${m.name}"))).head().getDouble(0)
    val po = m.evaluate(others).agg(avg(col(s"prob_${m.name}"))).head().getDouble(0)
    ps - po
  }

  // The reference asserts > 0.95 for sklearn deciders on the same geometry.
  for (d <- Seq(
    new GaussianNBDec(), new TreeDec(), new RandomForestDec(),
    new ExtraTreesDec(), new GradBoostDec(), new AdaBoostDec(),
    new SVCDec(), new QDADec(), new LDADec()))
    test(s"${d.name} separates offset clusters (> 0.9)") {
      assert(separation(d) > 0.9, s"${d.name} separation too low")
    }

  test("NeuronDecider separates offset clusters (> 0.8)") {
    assert(separation(new NeuronDecider()) > 0.8)
  }

  test("ExtraTreesDec random-threshold forest captures an interval target") {
    import org.apache.spark.ml.linalg.Vectors
    val rng = new scala.util.Random(29)
    val pts = (1 to 300).map { _ =>
      val x = rng.nextDouble() * 6 - 3
      (Vectors.dense(x, rng.nextDouble()), if (math.abs(x) < 1.0) 1.0 else 0.0)
    }
    val itrain = pts.toDF("features", "label").cache()
    val m = new ExtraTreesDec(numTrees = 10, maxDepth = 5).learn(itrain)
    val scored = m.evaluate(itrain)
    val acc = scored.filter((col("prob_ExtraTreesDec") >= 0.5) === (col("label") === 1.0))
      .count().toDouble / 300
    info(f"extra-trees interval accuracy: $acc%.3f")
    assert(acc > 0.9, s"random-threshold forest should capture the interval: $acc")
  }

  test("AdaBoostDec boosts past a single stump: interval target") {
    // class 1 inside [-1, 1] on one axis — a single depth-1 stump cannot
    // express an interval (needs two thresholds); SAMME's weighted rounds
    // must combine stumps into it
    import org.apache.spark.ml.linalg.Vectors
    val rng = new scala.util.Random(17)
    val pts = (1 to 300).map { _ =>
      val x = rng.nextDouble() * 6 - 3
      (Vectors.dense(x), if (math.abs(x) < 1.0) 1.0 else 0.0)
    }
    val itrain = pts.toDF("features", "label").cache()
    val single = new AdaBoostDec(nEstimators = 1).learn(itrain)
    val boosted = new AdaBoostDec(nEstimators = 30).learn(itrain)
    def acc(m: DeciderModel): Double = {
      val scored = m.evaluate(itrain)
      scored.filter((col(s"prob_${m.name}") >= 0.5) === (col("label") === 1.0))
        .count().toDouble / 300
    }
    val a1 = acc(single)
    val aB = acc(boosted)
    info(f"single stump acc: $a1%.3f, boosted: $aB%.3f")
    assert(aB > a1 + 0.05, s"boosting must beat one stump: $a1 vs $aB")
    assert(aB > 0.9, s"boosted ensemble should nail the interval: $aB")
  }

  test("SVCDec learns a NONLINEAR (RBF-like) boundary: concentric circles") {
    // inner disk (class 1) inside a ring (class 0) — not linearly separable;
    // the RFF map must buy the RBF-style boundary the reference's
    // kernel SVC has and a plain logistic fit lacks
    import org.apache.spark.ml.linalg.Vectors
    val rng = new scala.util.Random(41)
    def ringPoint(rLo: Double, rHi: Double) = {
      val r = rLo + rng.nextDouble() * (rHi - rLo)
      val a = rng.nextDouble() * 2 * math.Pi
      Vectors.dense(r * math.cos(a), r * math.sin(a))
    }
    val inner = (1 to 150).map(_ => (ringPoint(0.0, 1.0), 1.0))
    val ring = (1 to 150).map(_ => (ringPoint(2.0, 3.0), 0.0))
    val circTrain = (inner ++ ring).toDF("features", "label").cache()
    val m = new SVCDec(gamma = Some(0.5)).learn(circTrain)
    val scored = m.evaluate(circTrain)
    val pIn = scored.filter(col("label") === 1.0)
      .agg(avg(col("prob_SVCDec"))).head().getDouble(0)
    val pOut = scored.filter(col("label") === 0.0)
      .agg(avg(col("prob_SVCDec"))).head().getDouble(0)
    assert(pIn - pOut > 0.8, s"nonlinear separation too low: $pIn vs $pOut")
  }

  test("CustomDecider boundary predicate") {
    val d = new CustomDecider(
      (1 to dim).map(_ => (Some(0.9): Option[Double], None: Option[Double])))
    val m = d.model
    val ps = m.evaluate(searched).agg(avg(col("prob_CustomDecider"))).head().getDouble(0)
    val po = m.evaluate(others).agg(avg(col("prob_CustomDecider"))).head().getDouble(0)
    assert(ps > 0.4 && po == 0.0) // all-dims-above-0.9 is rarer for cluster at 0
  }

  test("KMeansDecider clusters the two blobs, oriented searched-high") {
    val m = new KMeansDecider().learn(train)
    val ps = m.evaluate(searched).agg(avg(col("prob_KMeansDecider"))).head().getDouble(0)
    val po = m.evaluate(others).agg(avg(col("prob_KMeansDecider"))).head().getDouble(0)
    // clusters separate AND the searched-rich cluster scores high — the
    // orientation is no longer an artifact of k-means label assignment
    assert(ps - po > 0.9)
  }

  test("QDA fits of one 16-partition frame are bit-identical") {
    // magnitudes spread over six decades, so a different merge order of the
    // per-partition sums would round differently
    val r = new scala.util.Random(5)
    val frame = (1 to 4000).map { i =>
      (Vectors.dense(Array.fill(3)(math.pow(10, r.nextInt(6)) * r.nextGaussian())),
        (i % 2).toDouble)
    }.toDF("features", "label").repartition(16).cache()
    def bits(g: GaussianClass): Seq[Long] =
      (g.prior +: g.logDet +: (g.mean ++ g.invCov.flatten)).map(java.lang.Double.doubleToRawLongBits)
    def fit(): (Seq[Long], Seq[Long]) = {
      val m = new QDADec().learn(frame).asInstanceOf[GaussianDiscriminantModel]
      (bits(m.g0), bits(m.g1))
    }
    try {
      val first = fit()
      (1 to 5).foreach(i => assert(fit() == first, s"fit ${i + 1} differs from the first"))
    } finally frame.unpersist()
  }
}
