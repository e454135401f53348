package graft.ml

import graft.SparkSpec
import graft.model.{LightCurveData, Star}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Filter integration, mirroring `test/stars_processing/test_stars_filter.py`:
  * cos-noise vs exp-noise synthetic stars; column contract of
  * getAllPredictions; probability separation; filterStars threshold
  * semantics.
  */
class StarsFilterSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(7)

  private def star(id: String, f: Double => Double): Star = {
    val t = Array.tabulate(300)(i => i * 1.0 + rng.nextDouble() * 0.2)
    val m = t.map(x => f(x) + rng.nextGaussian() * 0.05)
    Star(id, None, Map.empty, Map.empty, Map.empty, None,
      Seq(LightCurveData(t, m, Array.fill(300)(0.01), Map.empty)))
  }

  private lazy val searched: DataFrame =
    (1 to 15).map(i => star(s"cos_$i", x => math.cos(x / 10))).toDF().cache()
  private lazy val others: DataFrame =
    (1 to 15).map(i => star(s"exp_$i", x => math.exp(x / 300) + rng.nextGaussian() * 0.5))
      .toDF().cache()

  private lazy val descriptors = Seq(
    new AbbeValueDescr(bins = Some(100)),
    new VariogramSlopeDescr(daysPerBin = 30))
  private lazy val deciders = Seq(new LDADec(), new QDADec())
  private lazy val model = new StarsFilter(descriptors, deciders).learn(searched, others)

  test("getAllPredictions column contract") {
    val preds = model.getAllPredictions(searched)
    val cols = preds.columns.toSet
    for (c <- Seq("abbe_value", "variogram_slope", "prob_LDADec", "prob_QDADec",
      "passed_LDADec", "passed_QDADec", "passed"))
      assert(cols.contains(c), s"missing column $c")
  }

  test("probabilities separate the two families") {
    val ps = model.getAllPredictions(searched)
      .agg(avg("prob_LDADec"), avg("prob_QDADec")).head()
    val po = model.getAllPredictions(others)
      .agg(avg("prob_LDADec"), avg("prob_QDADec")).head()
    assert(ps.getDouble(0) - po.getDouble(0) > 0.8)
    assert(ps.getDouble(1) - po.getDouble(1) > 0.8)
  }

  test("filterStars keeps searched family, drops contamination") {
    val keptSearched = model.filterStars(searched).count()
    val keptOthers = model.filterStars(others).count()
    assert(keptSearched >= 12, s"kept only $keptSearched/15 searched")
    assert(keptOthers <= 3, s"kept $keptOthers/15 contamination")
  }

  test("getStatistic yields high precision and contains the mean row") {
    val stats = model.getStatistic(searched, others)
    val meanRow = stats.filter(col("decider") === "mean").head()
    assert(meanRow.getAs[Double]("precision") > 0.8)
    assert(stats.count() == deciders.size + 1)
  }

  test("decider statistics refuse an empty searched or others sample") {
    // without the guard an empty side divides by zero (NaN/Infinity rates)
    // and two empty sides read a null count
    val none = searched.limit(0)
    for ((s, o) <- Seq((none, others), (searched, none), (none, none))) {
      val err = intercept[IllegalArgumentException](model.getStatistic(s, o))
      assert(err.getMessage.contains("empty sample"), err.getMessage)
    }
  }

  test("roc sweep is monotone-ish and bounded") {
    val roc = model.roc(searched, others, nPoints = 10).collect()
    assert(roc.length == 10)
    roc.foreach { r =>
      val tpr = r.getAs[Double]("tpr")
      val fpr = r.getAs[Double]("fpr")
      assert(tpr >= 0 && tpr <= 1 && fpr >= 0 && fpr <= 1)
    }
  }

  test("ParamsEstimator picks a best combination") {
    val grid = Seq(
      TuneCombination("abbe100", Seq(new AbbeValueDescr(Some(100))), Seq(new QDADec())),
      TuneCombination("abbe100+slope",
        Seq(new AbbeValueDescr(Some(100)), new VariogramSlopeDescr(30)), Seq(new QDADec())))
    val (best, all) = new ParamsEstimator(searched, others, grid).fit()
    assert(all.size == 2)
    assert(best.stats("precision") >= all.map(_.stats("precision")).min)
  }

  private def ldaQdaGrid = Seq(
    TuneCombination("abbe100", Seq(new AbbeValueDescr(Some(100))),
      Seq(new LDADec(), new QDADec())),
    TuneCombination("abbe100+slope",
      Seq(new AbbeValueDescr(Some(100)), new VariogramSlopeDescr(30)),
      Seq(new LDADec(), new QDADec())))

  test("ParamsEstimator 2-combination LDA/QDA grid runs at most 3 Spark jobs") {
    searched.count(); others.count() // inputs cached before counting
    var all: Seq[TuneResult] = Nil
    val jobs = jobsFor("tune-grid") {
      all = new ParamsEstimator(searched, others, ldaQdaGrid).fit()._2
    }
    assert(all.size == 2)
    info(s"$jobs jobs")
    // one moments job, then the statistic aggregate's map stage
    // and result job
    assert(jobs <= 3, s"2-combination grid ran $jobs jobs")
  }

  /** Every field of each Gaussian decider's two class models. */
  private def gaussians(m: StarsFilterModel) = m.models.map {
    case g: GaussianDiscriminantModel =>
      (g.name, g.threshold, Seq(g.g0, g.g1).map(c =>
        (c.prior, c.mean.toSeq, c.invCov.map(_.toSeq).toSeq, c.logDet)))
    case other => fail(s"not a Gaussian decider: ${other.name}")
  }

  /** The 8-combination grid of the parallel-fit spec. */
  private def momentGrid = Seq(
    TuneCombination("abbe30", Seq(new AbbeValueDescr(Some(30))), Seq(new QDADec())),
    TuneCombination("abbe100", Seq(new AbbeValueDescr(Some(100))), Seq(new QDADec())),
    TuneCombination("slope30", Seq(new VariogramSlopeDescr(30)), Seq(new QDADec())),
    TuneCombination("abbe+slope",
      Seq(new AbbeValueDescr(Some(100)), new VariogramSlopeDescr(30)), Seq(new QDADec())),
    TuneCombination("abbe30_lda", Seq(new AbbeValueDescr(Some(30))), Seq(new LDADec())),
    TuneCombination("abbe100_t7",
      Seq(new AbbeValueDescr(Some(100))), Seq(new QDADec(threshold = 0.7))),
    TuneCombination("slope30_lda", Seq(new VariogramSlopeDescr(30)), Seq(new LDADec())),
    TuneCombination("abbe+slope_t3",
      Seq(new AbbeValueDescr(Some(100)), new VariogramSlopeDescr(30)),
      Seq(new QDADec(threshold = 0.3))))

  /** `x` in `more`: NaN for every fourth star of either family. */
  private def withX(df: DataFrame) = df.withColumn("more", map(lit("x"),
    when(pmod(xxhash64(col("starId")), lit(4)) === 0, lit("NaN"))
      .otherwise((pmod(xxhash64(col("starId"), lit(1)), lit(1000)) / 100.0).cast("string"))))

  test("ParamsEstimator one-pass grid equals each combination fitted alone") {
    val (s, o) = (withX(searched).cache(), withX(others).cache())
    try {
      val grid = momentGrid :+ TuneCombination("abbe+x",
        Seq(new AbbeValueDescr(Some(100)), new PropertyDescr(Seq("x"))),
        Seq(new LDADec(), new QDADec()))
      val xRows = s.unionByName(o).filter(element_at(col("more"), "x") === "NaN").count()
      assert(xRows > 0 && xRows < 30, s"$xRows NaN rows")
      val all = new ParamsEstimator(s, o, grid).fit()._2
      assert(all.map(_.label) == grid.map(_.label), "results keep the input order")
      val train = ParamsEstimator.inTrain(0.75, 42L)
      for ((c, got) <- grid.zip(all)) {
        val filter = new StarsFilter(c.descriptors, c.deciders)
        val alone = filter.learn(s.filter(train), o.filter(train))
        val rows = alone.deciderStatistics(filter.spaceCoordinates(s.filter(!train)),
          filter.spaceCoordinates(o.filter(!train)))
        val stats = StarsFilterModel.StatColumns.zipWithIndex.map { case (n, i) =>
          n -> rows.map(_._2(i)).sum / rows.length
        }.toMap
        assert(got.stats == stats, s"${c.label}: statistics")
        assert(gaussians(got.model) == gaussians(alone), s"${c.label}: Gaussian parameters")
        assert(got.model.featureCols == filter.featureCols)
      }
    } finally { s.unpersist(); o.unpersist() }
  }

  test("ParamsEstimator refuses a combination with no valid train row of one class") {
    // `y` exists for the contamination only: the searched side has no row
    val (s, o) = (searched, others.withColumn("more", map(lit("y"), lit("1.0"))))
    val grid = ldaQdaGrid :+ TuneCombination("y", Seq(new PropertyDescr(Seq("y"))),
      Seq(new LDADec(), new QDADec()))
    val err = intercept[IllegalArgumentException](new ParamsEstimator(s, o, grid).fit())
    assert(err.getMessage.contains("Decider can't be learned on an empty sample"),
      err.getMessage)
  }

  test("ParamsEstimator refuses a grid whose test side is empty") {
    // a split ratio of 1 puts every star on the train side
    val err = intercept[IllegalArgumentException](
      new ParamsEstimator(searched, others, ldaQdaGrid, splitRatio = 1.0).fit())
    assert(err.getMessage.contains("statistics can't be computed on an empty sample"),
      err.getMessage)
  }

  test("ParamsEstimator split does not depend on the input partitioning") {
    // two overlapping noise families, so every test-side star moves the stats
    val noisy = new scala.util.Random(11)
    def family(prefix: String, sd: Double) = (1 to 30).map { i =>
      val t = Array.tabulate(100)(_.toDouble)
      Star(s"${prefix}_$i", None, Map.empty, Map.empty, Map.empty, None,
        Seq(LightCurveData(t, t.map(_ => noisy.nextGaussian() * sd), Array.fill(100)(0.01),
          Map.empty)))
    }
    val (s0, o0) = (family("a", 1.0).toDF(), family("b", 1.2).toDF())
    def stats(parts: Int) = {
      val (s, o) = (s0.repartition(parts).cache(), o0.repartition(parts).cache())
      try new ParamsEstimator(s, o, Seq(TuneCombination("skew+kurt",
        Seq(new SkewnessDescr(), new KurtosisDescr()), Seq(new LDADec(), new QDADec()))))
        .fit()._2.map(r => r.label -> r.stats)
      finally { s.unpersist(); o.unpersist() }
    }
    assert(stats(1) == stats(7), "per-combination stats must not move with the partitioning")
  }

  test("ParamsEstimator parallel fit matches the sequential argmax and is faster") {
    // 8 combinations (a realistic small tuning grid — descriptor variants ×
    // decider thresholds). An all-moment grid fits in one pass whatever
    // the parallelism, so the pool must not move its results.
    val (seqBest, seqAll) = new ParamsEstimator(searched, others, momentGrid,
      parallelism = 1).fit()
    val (parBest, parAll) = new ParamsEstimator(searched, others, momentGrid,
      parallelism = 4).fit()
    assert(parBest.label == seqBest.label, "parallel argmax must match sequential")
    assert(parAll.map(r => r.label -> r.stats) == seqAll.map(r => r.label -> r.stats),
      "per-combination stats must be identical")
    // a GaussianNBDec grid still fits per combination, from the pool; its
    // 4 concurrent tiny fits are scheduling-bound: expect a real wall-clock
    // win (10% tolerance so a loaded machine can't flake the suite)
    def nbGrid = momentGrid.map(c => c.copy(deciders = Seq(new GaussianNBDec())))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val ((nbSeqBest, nbSeqAll), tSeq) = time(
      new ParamsEstimator(searched, others, nbGrid, parallelism = 1).fit())
    val ((nbParBest, nbParAll), tPar) = time(
      new ParamsEstimator(searched, others, nbGrid, parallelism = 4).fit())
    info(f"GaussianNBDec grid: sequential $tSeq%.2fs, parallel $tPar%.2fs")
    assert(nbParBest.label == nbSeqBest.label)
    assert(nbParAll.map(r => r.label -> r.stats) == nbSeqAll.map(r => r.label -> r.stats))
    assert(tPar < tSeq * 1.1, f"parallel ($tPar%.2fs) not faster than sequential ($tSeq%.2fs)")
  }

  test("FilterSerializer round-trips a trained filter (pickle parity)") {
    val path = java.nio.file.Files.createTempDirectory("filter").toString + "/model.filter"
    FilterSerializer.save(model, path)
    val loaded = FilterSerializer.load(path)
    val a = model.getAllPredictions(searched)
      .select("starId", "prob_LDADec", "prob_QDADec").orderBy("starId").collect()
    val b = loaded.getAllPredictions(searched)
      .select("starId", "prob_LDADec", "prob_QDADec").orderBy("starId").collect()
    assert(a.sameElements(b), "loaded filter predicts identically")
  }

  test("FilterSerializer preserves the fitted red_dim PCA reduction") {
    val d = new CurveDescr(bins = 20, redDim = Some(2))
    val m = new StarsFilter(Seq(d), Seq(new QDADec())).learn(searched, others)
    val path = java.nio.file.Files.createTempDirectory("pcafilter").toString + "/m.filter"
    FilterSerializer.save(m, path)
    val loaded = FilterSerializer.load(path)
    val ld = loaded.descriptors.head.asInstanceOf[CurveDescr]
    assert(!ld.needsFit, "fitted reduction must survive serialization")
    val a = m.getAllPredictions(searched)
      .select("starId", "prob_QDADec").orderBy("starId").collect()
    val b = loaded.getAllPredictions(searched)
      .select("starId", "prob_QDADec").orderBy("starId").collect()
    assert(a.sameElements(b), "loaded filter predicts identically through the PCA")
  }

  test("probabilitySpace grid evaluates all deciders over the feature mesh") {
    val space = model.probabilitySpace(searched.unionByName(others), gridPerDim = 5)
    assert(space.count() == 25) // 5^2 grid over 2 features
    val cols = space.columns.toSet
    assert(cols.contains("prob_LDADec") && cols.contains("prob_QDADec"))
    val probs = space.select("prob_LDADec").collect().map(_.getDouble(0))
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
  }

  test("probabilitySpaceND meshes the PCA plane and scores every decider") {
    val space = model.probabilitySpaceND(searched, others, gridPerDim = 6).cache()
    assert(space.count() == 36) // 6^2 grid over the 2 PCA axes
    val rows = space.collect()
    val xs = rows.map(_.getAs[Double]("x")).distinct.sorted
    val ys = rows.map(_.getAs[Double]("y")).distinct.sorted
    assert(xs.length == 6 && ys.length == 6, "regular mesh")
    // evenly spaced axes (linspace)
    val dx = xs.sliding(2).map { case Array(a, b) => b - a }.toSeq
    assert(dx.forall(d => math.abs(d - dx.head) < 1e-9), "even x spacing")
    // probabilities bounded; the reconstructed feature columns ride along
    assert(rows.forall { r =>
      val p = r.getAs[Double]("prob_LDADec")
      p >= 0.0 && p <= 1.0
    })
    assert(space.columns.contains("abbe_value") && space.columns.contains("combined_prob"))
    // grid must separate: not every cell the same probability
    assert(rows.map(_.getAs[Double]("combined_prob")).distinct.length > 1)
    // deterministic: a second evaluation produces the identical grid
    val again = model.probabilitySpaceND(searched, others, gridPerDim = 6)
      .select("x", "y", "combined_prob").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    val first = rows.map(r => (r.getAs[Double]("x"), r.getAs[Double]("y"),
      r.getAs[Double]("combined_prob"))).toSet
    assert(again == first)
  }

  test("r19 single-pass moment path is bit-identical to per-decider learn") {
    // learnOnCoords now fits all-MomentDecider panels from ONE shared
    // moments pass; this pins that the fused path's models equal the
    // per-decider learn() models EXACTLY (same momentsBoth arithmetic)
    val sf = new StarsFilter(descriptors, Seq(new LDADec(), new QDADec()))
    val sc = sf.spaceCoordinates(searched).cache()
    val oc = sf.spaceCoordinates(others).cache()
    try {
      val fused = sf.learnOnCoords(sc, oc)
      val train = sc.withColumn("label", lit(1.0))
        .unionByName(oc.withColumn("label", lit(0.0)))
        .select("features", "label")
      val separate = new StarsFilterModel(descriptors,
        Seq(new LDADec(), new QDADec()).map(_.learn(train)), sf.featureCols)
      def probs(m: StarsFilterModel) = m.predictOnCoords(sc)
        .select(col("starId"), col("prob_LDADec"), col("prob_QDADec"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(probs(fused) == probs(separate),
        "fused single-pass models must score bit-identically")
    } finally { sc.unpersist(); oc.unpersist() }
  }
}
