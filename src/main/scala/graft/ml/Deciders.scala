package graft.ml

import breeze.linalg.{det, inv, DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.ml.classification._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deciders (SURVEY §2.9): binary classifiers with the reference's
  * learn/evaluate/threshold contract (`superv_base_decider.py:40-100`,
  * `base_decider.py:114-131`): `learn` takes a labeled feature DataFrame
  * (`features: Vector, label: Double` with 1 = searched, 0 = contamination);
  * `evaluate` appends `prob_<name>` = P(class 1), with NaN coerced to 0.
  *
  * MLlib-backed deciders train distributed; QDA/LDA are closed-form
  * estimators (one moments pass over the data, tiny driver-side solve,
  * broadcast-able model — ideal at scale since feature dimension is small).
  *
  * Documented semantic deltas vs the reference (survey §2.9):
  * SVCDec→random-Fourier-feature RBF approximation + logistic regression
  * (no kernel SVM in MLlib); AdaBoostDec→discrete SAMME over weighted
  * stumps (vs sklearn's SAMME.R); ExtraTreesDec is a genuine
  * extremely-randomized-trees implementation (level-synchronous,
  * md5-deterministic randomness rather than sklearn's RNG stream).
  */
trait Decider extends Serializable {
  def name: String
  def threshold: Double
  def learn(train: DataFrame): DeciderModel
}

trait DeciderModel extends Serializable {
  def name: String
  def threshold: Double

  /** Append `prob_<name>` ∈ [0,1]; NaN→0 (`superv_base_decider.py:98-99`). */
  def evaluate(df: DataFrame): DataFrame

  protected def finishProb(df: DataFrame, raw: org.apache.spark.sql.Column): DataFrame =
    df.withColumn(s"prob_$name", when(isnan(raw) || raw.isNull, 0.0).otherwise(raw))
}

/** Wrap of an MLlib ProbabilisticClassifier: probability vector's class-1
  * component is the membership probability.
  */
private[ml] class ProbClassifierModelWrap(
    val name: String, val threshold: Double,
    model: org.apache.spark.ml.Model[_], hardPrediction: Boolean = false)
    extends DeciderModel {
  private val probU = udf((v: Vector) => v(1))
  override def evaluate(df: DataFrame): DataFrame = {
    val scored = model.asInstanceOf[org.apache.spark.ml.Transformer]
      .transform(df)
    val raw =
      if (hardPrediction) col("prediction") // TreeDec quirk: hard labels
      else probU(col("probability"))
    finishProb(scored, raw).drop("rawPrediction", "probability", "prediction")
  }
}

/** `GaussianNBDec` (`supervised_deciders.py:26-34`). */
class GaussianNBDec(val threshold: Double = 0.5) extends Decider {
  val name = "GaussianNBDec"
  def learn(train: DataFrame): DeciderModel =
    new ProbClassifierModelWrap(name, threshold,
      new NaiveBayes().setModelType("gaussian").fit(train))
}

/** `TreeDec` — evaluate returns HARD predictions, a reference quirk
  * (`supervised_deciders.py:102-117`).
  */
class TreeDec(val threshold: Double = 0.5, val maxDepth: Int = 5) extends Decider {
  val name = "TreeDec"
  def learn(train: DataFrame): DeciderModel =
    new ProbClassifierModelWrap(name, threshold,
      new DecisionTreeClassifier().setMaxDepth(maxDepth).setSeed(42).fit(train),
      hardPrediction = true)
}

/** `RandomForestDec` (`supervised_deciders.py:146-171`). */
class RandomForestDec(val threshold: Double = 0.5, val numTrees: Int = 20) extends Decider {
  val name = "RandomForestDec"
  def learn(train: DataFrame): DeciderModel =
    new ProbClassifierModelWrap(name, threshold,
      new RandomForestClassifier().setNumTrees(numTrees).setSeed(42).fit(train))
}

/** `ExtraTreesDec` (`supervised_deciders.py:146-171`): genuine
  * extremely-randomized trees, since MLlib has none — a level-synchronous
  * distributed implementation (the same growth strategy MLlib's own trees
  * use): all trees grow one depth-level per pass, each node draws
  * ⌈√dim⌉ RANDOM candidate (feature, uniform-random threshold) pairs
  * (md5-derived, deterministic) and keeps the best by Gini gain; no
  * bootstrap, matching sklearn's `bootstrap=False` default.
  *
  * Scale shape: ONE copy of the data carries an array column of per-tree
  * node assignments (no rows×trees blow-up at rest); each level costs a
  * node-stats aggregate (min/max per feature), a candidate-Gini aggregate
  * against the broadcast candidate table, and an assignment update —
  * driver state is only the (tree, node) split plan, bounded by
  * T·2^depth. Evaluation walks the broadcast plan per row.
  */
class ExtraTreesDec(val threshold: Double = 0.5, val numTrees: Int = 10,
                    val maxDepth: Int = 5) extends Decider {
  val name = "ExtraTreesDec"

  def learn(train: DataFrame): DeciderModel = {
    import org.apache.spark.ml.functions.vector_to_array
    val spark = train.sparkSession
    val dim = train.select("features").head().getAs[Vector](0).size
    val nCand = math.ceil(math.sqrt(dim.toDouble)).toInt
    val trees = numTrees

    var data = train
      .select(vector_to_array(col("features")).as("fa"), col("label"))
      .withColumn("nodes", array_repeat(lit(1L), trees))
      .localCheckpoint()

    // (tree, node) -> (featureIdx, threshold); grows level by level
    val splits = scala.collection.mutable.Map.empty[(Int, Long), (Int, Double)]

    def uni(s: String): Double =
      (graft.functions.PortableHash.md5Int60(s) + 0.5) / 1152921504606846976.0

    var level = 0
    var open = true
    while (level < maxDepth && open) {
      // node stats: min/max per feature + class counts per (tree, node)
      val ex = data.select(posexplode(col("nodes")).as(Seq("tree", "node")),
        col("fa"), col("label"))
      val minAgg = array((0 until dim).map(i => min(element_at(col("fa"), i + 1))): _*)
      val maxAgg = array((0 until dim).map(i => max(element_at(col("fa"), i + 1))): _*)
      val stats = ex.groupBy(col("tree"), col("node"))
        .agg(minAgg.as("mins"), maxAgg.as("maxs"),
          count(lit(1)).as("n"), sum(col("label")).as("n1"))
        .collect() // bounded: trees × open nodes at this level

      // draw candidates for impure, splittable nodes
      val candRows = stats.flatMap { r =>
        val (t, nd) = (r.getAs[Int]("tree"), r.getAs[Long]("node"))
        val n = r.getAs[Long]("n"); val n1 = r.getAs[Double]("n1")
        if (n < 2 || n1 == 0.0 || n1 == n.toDouble) Nil // pure or tiny → leaf
        else {
          val mins = r.getSeq[Double](r.fieldIndex("mins"))
          val maxs = r.getSeq[Double](r.fieldIndex("maxs"))
          (0 until nCand).flatMap { c =>
            val f = (uni(s"etf:$t:$nd:$c") * dim).toInt.min(dim - 1)
            val (lo, hi) = (mins(f), maxs(f))
            if (hi <= lo) None
            else Some((t, nd, c, f, lo + uni(s"ett:$t:$nd:$c") * (hi - lo)))
          }
        }
      }
      if (candRows.isEmpty) open = false
      else {
        import spark.implicits._
        val cand = candRows.toSeq.toDF("tree", "node", "cand", "f", "thr")
        // one pass scores every candidate of every node: Gini left/right
        val scored = ex.join(broadcast(cand), Seq("tree", "node"))
          .withColumn("goLeft", element_at(col("fa"), col("f") + 1) <= col("thr"))
          .groupBy(col("tree"), col("node"), col("cand"), col("f"), col("thr"))
          .agg(count(lit(1)).as("n"), sum(col("label")).as("n1"),
            sum(when(col("goLeft"), 1).otherwise(0)).as("nl"),
            sum(when(col("goLeft"), col("label")).otherwise(0.0)).as("nl1"))
          .collect()
        def gini(c1: Double, n: Double): Double =
          if (n == 0) 0.0 else { val p = c1 / n; 1.0 - p * p - (1 - p) * (1 - p) }
        val best = scored.groupBy(r => (r.getAs[Int]("tree"), r.getAs[Long]("node")))
          .flatMap { case ((t, nd), rows) =>
            val gains = rows.flatMap { r =>
              val n = r.getAs[Long]("n").toDouble; val n1 = r.getAs[Double]("n1")
              val nl = r.getAs[Long]("nl").toDouble; val nl1 = r.getAs[Double]("nl1")
              if (nl == 0 || nl == n) None
              else Some((gini(n1, n) - (nl / n) * gini(nl1, nl) -
                ((n - nl) / n) * gini(n1 - nl1, n - nl),
                r.getAs[Int]("f"), r.getAs[Double]("thr"), r.getAs[Int]("cand")))
            }
            if (gains.isEmpty) None
            else {
              val g = gains.maxBy(x => (x._1, -x._4)) // deterministic tie-break
              if (g._1 <= 1e-12) None else Some((t, nd) -> (g._2, g._3))
            }
          }.toMap
        if (best.isEmpty) open = false
        else {
          splits ++= best
          val bc = spark.sparkContext.broadcast(best)
          val advance = udf((fa: Seq[Double], nodes: Seq[Long]) =>
            nodes.zipWithIndex.map { case (nd, t) =>
              bc.value.get((t, nd)) match {
                case Some((f, thr)) => if (fa(f) <= thr) nd * 2 else nd * 2 + 1
                case None           => nd
              }
            })
          data = data.withColumn("nodes", advance(col("fa"), col("nodes")))
            .localCheckpoint()
        }
      }
      level += 1
    }

    // leaf class probabilities from the final assignments
    val leafProb = data
      .select(posexplode(col("nodes")).as(Seq("tree", "node")), col("label"))
      .groupBy(col("tree"), col("node"))
      .agg(avg(col("label")).as("p1"))
      .collect()
      .map(r => (r.getAs[Int]("tree"), r.getAs[Long]("node")) -> r.getAs[Double]("p1"))
      .toMap
    ExtraTreesDec.forestModel(threshold, trees, splits.toMap, leafProb)
  }
}

object ExtraTreesDec {
  private[ml] def forestModel(
      thr: Double, trees: Int,
      splits: Map[(Int, Long), (Int, Double)],
      leafProb: Map[(Int, Long), Double]): DeciderModel =
    new DeciderModel {
      val name = "ExtraTreesDec"
      val threshold: Double = thr
      override def evaluate(df: DataFrame): DataFrame = {
        val u = udf((v: Vector) => {
          var acc = 0.0
          var t = 0
          while (t < trees) {
            var nd = 1L
            var go = true
            while (go) splits.get((t, nd)) match {
              case Some((f, sThr)) => nd = if (v(f) <= sThr) nd * 2 else nd * 2 + 1
              case None            => go = false
            }
            acc += leafProb.getOrElse((t, nd), 0.5)
            t += 1
          }
          acc / trees
        })
        finishProb(df, u(col("features")))
      }
    }
}

/** `GradBoostDec` (`supervised_deciders.py:119-144`). */
class GradBoostDec(val threshold: Double = 0.5, val maxIter: Int = 20) extends Decider {
  val name = "GradBoostDec"
  def learn(train: DataFrame): DeciderModel =
    new ProbClassifierModelWrap(name, threshold,
      new GBTClassifier().setMaxIter(maxIter).setSeed(42).fit(train))
}

/** `AdaBoostDec` (`supervised_deciders.py:93-116`): true SAMME boosting —
  * each round fits a WEIGHTED depth-1 MLlib tree (`setWeightCol`), scores
  * its weighted error, and multiplies misclassified rows' weights by
  * e^alpha; the ensemble probability is the alpha-weighted vote share.
  * Replaces the earlier GBT stand-in with the reference's actual
  * algorithm family (remaining delta: sklearn's SAMME.R refinement uses
  * per-stump probability estimates rather than discrete votes).
  *
  * Scale: each round is one distributed weighted tree fit plus one
  * aggregate; the weight column is localCheckpoint'ed per round so the
  * lineage stays flat across rounds. The fitted ensemble is a tiny
  * (node, alpha) forest evaluated per-row.
  */
class AdaBoostDec(val threshold: Double = 0.5, val nEstimators: Int = 30,
                  val maxDepth: Int = 1) extends Decider {
  val name = "AdaBoostDec"
  def learn(train: DataFrame): DeciderModel = {
    val n = train.count().toDouble
    var df = train.select(col("features"), col("label"))
      .withColumn("w", lit(1.0 / n)).localCheckpoint()
    val stumps = scala.collection.mutable.ArrayBuffer.empty[(org.apache.spark.ml.tree.Node, Double)]
    var t = 0
    var stop = false
    while (t < nEstimators && !stop) {
      val tree = new DecisionTreeClassifier().setWeightCol("w")
        .setMaxDepth(maxDepth).setSeed(42L + t).fit(df)
      val pred = tree.transform(df)
        .select(col("features"), col("label"), col("w"), col("prediction"))
      val row = pred.agg(
        sum(when(col("prediction") =!= col("label"), col("w")).otherwise(0.0)),
        sum(col("w"))).head()
      val err = row.getDouble(0) / row.getDouble(1)
      if (err <= 1e-12) { stumps += ((tree.rootNode, 10.0)); stop = true } // perfect stump dominates
      else if (err >= 0.5) stop = true // SAMME stop for K=2 (worse than chance)
      else {
        val alpha = math.log((1 - err) / err)
        stumps += ((tree.rootNode, alpha))
        val rw = pred.withColumn("w", col("w") *
          exp(when(col("prediction") =!= col("label"), lit(alpha)).otherwise(lit(0.0))))
          .drop("prediction")
        val z = rw.agg(sum(col("w"))).head().getDouble(0)
        df = rw.withColumn("w", col("w") / z).localCheckpoint()
      }
      t += 1
    }
    AdaBoostDec.ensembleModel(threshold, stumps.toSeq)
  }
}

object AdaBoostDec {
  import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}

  private def walk(node: Node, f: Vector): Double = node match {
    case l: LeafNode => l.prediction
    case in: InternalNode => in.split match {
      case cs: ContinuousSplit =>
        walk(if (f(cs.featureIndex) <= cs.threshold) in.leftChild else in.rightChild, f)
      case other => throw new IllegalStateException(
        s"unexpected split on continuous features: $other")
    }
  }

  private[ml] def ensembleModel(thr: Double, stumps: Seq[(Node, Double)]): DeciderModel =
    new DeciderModel {
      val name = "AdaBoostDec"
      val threshold: Double = thr
      override def evaluate(df: DataFrame): DataFrame = {
        val u = udf((v: Vector) =>
          if (stumps.isEmpty) 0.5
          else {
            var voted = 0.0
            var total = 0.0
            stumps.foreach { case (node, alpha) =>
              if (walk(node, v) == 1.0) voted += alpha
              total += alpha
            }
            voted / total
          })
        finishProb(df, u(col("features")))
      }
    }
}

/** `SVCDec` (`supervised_deciders.py:52-76`): sklearn RBF-kernel SVC with
  * Platt probability estimates. MLlib has no kernel SVM, so the RBF kernel
  * k(x,y)=exp(-γ‖x−y‖²) is approximated with random Fourier features
  * (Rahimi–Recht: z(x) = √(2/D)·cos(Wx+b), rows of W ~ N(0, 2γI),
  * b ~ U[0,2π]) and a logistic regression on z(x) supplies the
  * probabilistic nonlinear boundary. γ defaults to sklearn's
  * gamma="auto" = 1/dim. The feature map is md5-derived, so executors
  * regenerate it identically with no driver state; remaining documented
  * delta: Platt-scaled SVC probabilities ≠ a logistic fit on RFF space.
  */
class SVCDec(val threshold: Double = 0.5, val gamma: Option[Double] = None,
             val rffDim: Int = 64) extends Decider {
  val name = "SVCDec"
  def learn(train: DataFrame): DeciderModel = {
    val dim = train.select("features").head().getAs[Vector](0).size
    val g = gamma.getOrElse(1.0 / dim)
    val z = SVCDec.rffUdf(rffDim, dim, g)
    val lr = new LogisticRegression().setMaxIter(100).setFeaturesCol("_rff")
      .fit(train.withColumn("_rff", z(col("features"))))
    val thr = threshold
    new DeciderModel {
      val name = "SVCDec"
      val threshold: Double = thr
      private val probU = udf((v: Vector) => v(1))
      override def evaluate(df: DataFrame): DataFrame = {
        val scored = lr.transform(df.withColumn("_rff", z(col("features"))))
        finishProb(scored, probU(col("probability")))
          .drop("rawPrediction", "probability", "prediction", "_rff")
      }
    }
  }
}

object SVCDec {
  /** Deterministic Fourier map: uniforms from md5, normals via Box–Muller. */
  private def fourierMap(d: Int, dim: Int, gamma: Double): (Array[Array[Double]], Array[Double]) = {
    def uni(s: String): Double =
      (graft.functions.PortableHash.md5Int60(s) + 0.5) / 1152921504606846976.0 // 2^60
    val w = Array.tabulate(d, dim) { (j, i) =>
      val u1 = uni(s"rffw:$j:$i:1")
      val u2 = uni(s"rffw:$j:$i:2")
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2) * math.sqrt(2.0 * gamma)
    }
    val b = Array.tabulate(d)(j => uni(s"rffb:$j") * 2.0 * math.Pi)
    (w, b)
  }

  private[ml] def rffUdf(d: Int, dim: Int, gamma: Double) = {
    val (w, b) = fourierMap(d, dim, gamma)
    val scale = math.sqrt(2.0 / d)
    udf((v: Vector) => {
      val out = new Array[Double](d)
      var j = 0
      while (j < d) {
        val row = w(j)
        var acc = b(j)
        var i = 0
        while (i < dim) { acc += row(i) * v(i); i += 1 }
        out(j) = scale * math.cos(acc)
        j += 1
      }
      org.apache.spark.ml.linalg.Vectors.dense(out)
    })
  }
}

/** `NeuronDecider`: MLP `[dim, hidden, 2]` with softmax out ≈ the keras
  * Dense(h, relu) → Dense(1, sigmoid) (`neuron_decider.py:124-131`).
  */
class NeuronDecider(val threshold: Double = 0.5, val hidden: Int = 10,
                    val maxIter: Int = 150) extends Decider {
  val name = "NeuronDecider"
  def learn(train: DataFrame): DeciderModel = {
    val dim = train.select("features").head().getAs[Vector](0).size
    new ProbClassifierModelWrap(name, threshold,
      new MultilayerPerceptronClassifier()
        .setLayers(Array(dim, hidden, 2)).setMaxIter(maxIter).setSeed(42)
        .fit(train))
  }
}

/** Gaussian discriminant sufficient statistics per class. */
private[ml] final case class GaussianClass(
    prior: Double, mean: Array[Double], invCov: Array[Array[Double]], logDet: Double) {
  def logLikelihood(x: Array[Double]): Double = {
    val d = mean.length
    val c = new Array[Double](d)
    var i = 0
    while (i < d) { c(i) = x(i) - mean(i); i += 1 }
    var quad = 0.0
    i = 0
    while (i < d) {
      var j = 0
      var s = 0.0
      while (j < d) { s += invCov(i)(j) * c(j); j += 1 }
      quad += c(i) * s
      i += 1
    }
    math.log(prior) - 0.5 * logDet - 0.5 * quad
  }
}

/** One feature set of a labelled frame: a `dim`-wide vector column and the
  * boolean column of the rows it covers (a grid combination's NaN-free rows).
  */
private[ml] final case class FeatureSet(features: Column, valid: Column, dim: Int)

private[ml] object GaussianFit {
  type Moments = (Long, BDV[Double], BDM[Double])

  /** (n, Σx, Σxxᵀ) for BOTH classes of the `features` column in one
    * distributed pass.
    *
    * `dim` > 0 skips the `first()` probe job (callers that know the feature
    * dimension — e.g. StarsFilter via `featureCols.length` — save one
    * driver round-trip; guide §5, no needless driver actions).
    */
  def momentsBoth(df: DataFrame, dim: Int = -1): (Moments, Moments) = {
    val d = if (dim > 0) dim else df.select("features").rdd.first().getAs[Vector](0).size
    momentsBoth(df, Seq(FeatureSet(col("features"), lit(true), d))).head
  }

  /** (n, Σx, Σxxᵀ) for BOTH classes of each of k feature sets of `df` (a
    * double `label` column, 1 = searched) in ONE job. A set adds its vector
    * on the rows where its `valid` column holds, in partition order, so its
    * sums are those a one-set pass over just those rows computes: the same
    * additions in the same order. The per-partition sums are collected and
    * merged in partition order on the driver, not in task completion order,
    * so every fit of one frame yields bit-identical moments.
    */
  def momentsBoth(df: DataFrame, sets: Seq[FeatureSet]): Seq[(Moments, Moments)] = {
    val k = sets.length
    val dims = sets.map(_.dim)
    val rows = df.select(col("label") +: sets.flatMap(s => Seq(s.features, s.valid)): _*).rdd
    def zeros: Array[(Moments, Moments)] = dims.map { d =>
      def zero: Moments = (0L, BDV.zeros[Double](d), BDM.zeros[Double](d, d))
      (zero, zero)
    }.toArray
    def add(acc: Moments, x: Array[Double]): Moments = {
      val v = BDV(x)
      (acc._1 + 1, acc._2 + v, acc._3 + (v * v.t))
    }
    def merge(a: Moments, b: Moments): Moments = (a._1 + b._1, a._2 + b._2, a._3 + b._3)
    val partials = rows.mapPartitions { it =>
      val acc = zeros
      it.foreach { r =>
        val label = r.getDouble(0)
        var i = 0
        while (i < k) {
          if (r.getBoolean(2 + 2 * i)) {
            val x = r.getAs[Vector](1 + 2 * i).toArray
            val (m0, m1) = acc(i)
            acc(i) = if (label == 0.0) (add(m0, x), m1) else (m0, add(m1, x))
          }
          i += 1
        }
      }
      Iterator.single(acc)
    }.collect()
    partials.foldLeft(zeros) { (a, b) =>
      a.zip(b).map { case ((a0, a1), (b0, b1)) => (merge(a0, b0), merge(a1, b1)) }
    }.toSeq
  }

  def gaussian(n: Long, sx: BDV[Double], sxx: BDM[Double], total: Long,
               covOverride: Option[BDM[Double]] = None, reg: Double = 1e-6): GaussianClass = {
    val mean = sx / n.toDouble
    val cov = covOverride.getOrElse {
      val c = (sxx / n.toDouble) - (mean * mean.t)
      c + (BDM.eye[Double](mean.length) * reg)
    }
    GaussianClass(n.toDouble / total, mean.toArray,
      inv(cov).toArray.grouped(mean.length).toArray.transpose, // breeze column-major
      math.log(det(cov)))
  }

  def probUdf(g0: GaussianClass, g1: GaussianClass) =
    udf((v: Vector) => {
      val x = v.toArray
      val l0 = g0.logLikelihood(x)
      val l1 = g1.logLikelihood(x)
      val m = math.max(l0, l1)
      val e0 = math.exp(l0 - m)
      val e1 = math.exp(l1 - m)
      e1 / (e0 + e1)
    })
}

private[ml] class GaussianDiscriminantModel(
    val name: String, val threshold: Double,
    val g0: GaussianClass, val g1: GaussianClass) extends DeciderModel {
  // built once per model, not per `evaluate`
  @transient private lazy val prob = GaussianFit.probUdf(g0, g1)
  override def evaluate(df: DataFrame): DataFrame = finishProb(df, prob(col("features")))
}

/** A decider whose fit is a closed form over the per-class Gaussian moment
  * sums (n, Σx, Σxxᵀ). Two callers exploit this: when every decider is
  * moment-based, [[StarsFilter.learnOnCoords]] fits them all from ONE
  * shared moments pass (no per-decider count + probe + aggregate
  * jobs), and [[ParamsEstimator]] fits every such grid combination from
  * ONE pass keyed by combination. `learnFromMoments` must produce the exact
  * model `learn` would: both run the same `GaussianFit.momentsBoth`
  * arithmetic, so the models are bit-identical.
  */
private[ml] trait MomentDecider extends Decider {
  def learnFromMoments(mom0: GaussianFit.Moments, mom1: GaussianFit.Moments): DeciderModel
}

private[ml] object MomentDecider {
  /** True when every decider of a non-empty panel is moment-based. */
  def all(deciders: Seq[Decider]): Boolean =
    deciders.nonEmpty && deciders.forall(_.isInstanceOf[MomentDecider])

  /** Every decider of an [[all]]-moment panel, fitted from one class pair
    * of moments; both classes need a row.
    */
  def learnAll(deciders: Seq[Decider], mom0: GaussianFit.Moments,
               mom1: GaussianFit.Moments): Seq[DeciderModel] = {
    require(mom1._1 > 0 && mom0._1 > 0, "Decider can't be learned on an empty sample")
    deciders.map(_.asInstanceOf[MomentDecider].learnFromMoments(mom0, mom1))
  }
}

/** `QDADec`: per-class mean + covariance, closed form
  * (`supervised_deciders.py:38-49` — no MLlib equivalent).
  */
class QDADec(val threshold: Double = 0.5) extends Decider with MomentDecider {
  val name = "QDADec"
  def learn(train: DataFrame): DeciderModel = {
    val (mom0, mom1) = GaussianFit.momentsBoth(train)
    learnFromMoments(mom0, mom1)
  }
  def learnFromMoments(mom0: GaussianFit.Moments, mom1: GaussianFit.Moments): DeciderModel = {
    val ((n0, sx0, sxx0), (n1, sx1, sxx1)) = (mom0, mom1)
    val total = n0 + n1
    new GaussianDiscriminantModel(name, threshold,
      GaussianFit.gaussian(n0, sx0, sxx0, total),
      GaussianFit.gaussian(n1, sx1, sxx1, total))
  }
}

/** `LDADec`: shared (pooled) covariance linear discriminant
  * (`supervised_deciders.py:12-23` — no MLlib LDA classifier).
  */
class LDADec(val threshold: Double = 0.5) extends Decider with MomentDecider {
  val name = "LDADec"
  def learn(train: DataFrame): DeciderModel = {
    val (mom0, mom1) = GaussianFit.momentsBoth(train)
    learnFromMoments(mom0, mom1)
  }
  def learnFromMoments(mom0: GaussianFit.Moments, mom1: GaussianFit.Moments): DeciderModel = {
    val ((n0, sx0, sxx0), (n1, sx1, sxx1)) = (mom0, mom1)
    val total = n0 + n1
    val d = sx0.length
    val m0 = sx0 / n0.toDouble
    val m1 = sx1 / n1.toDouble
    // pooled covariance with ML (1/N) normalization + ridge
    val pooled = ((sxx0 - (m0 * m0.t) * n0.toDouble) +
      (sxx1 - (m1 * m1.t) * n1.toDouble)) / total.toDouble +
      (BDM.eye[Double](d) * 1e-6)
    new GaussianDiscriminantModel(name, threshold,
      GaussianFit.gaussian(n0, sx0, sxx0, total, Some(pooled)),
      GaussianFit.gaussian(n1, sx1, sxx1, total, Some(pooled)))
  }
}

/** `CustomDecider` (`deciders/custom_decider.py:5-108`): per-dimension
  * (lo, hi) boundaries with open ends; probability = 1.0/0.0.
  */
class CustomDecider(val boundaries: Seq[(Option[Double], Option[Double])],
                    val threshold: Double = 0.5) extends Decider {
  val name = "CustomDecider"
  def learn(train: DataFrame): DeciderModel = model // no learning
  def model: DeciderModel = {
    val b = boundaries
    val thr = threshold
    new DeciderModel {
      val name = "CustomDecider"
      val threshold: Double = thr
      override def evaluate(df: DataFrame): DataFrame = {
        val u = udf((v: Vector) => {
          val ok = b.zipWithIndex.forall { case ((lo, hi), i) =>
            lo.forall(v(i) > _) && hi.forall(v(i) < _)
          }
          if (ok) 1.0 else 0.0
        })
        finishProb(df, u(col("features")))
      }
    }
  }
}

/** `KMeansDecider` (`unsupervised/k_means_decider.py:8-21`): unsupervised
  * clustering as a decider.
  *
  * Deviation (deliberate, survey §7.5 spirit): the reference's `evaluate`
  * returns the RAW cluster id (`unsupervised_base.py:25-26`) — whose
  * polarity is arbitrary (the searched-rich cluster may be labeled 0, making
  * every true match score 0.0) — and its `learn(coords)` arity doesn't even
  * match the `decider.learn(searched, others)` call in
  * `stars_filter.py:144`, so the reference path raises TypeError. Here the
  * cluster fit stays unsupervised, but each cluster's emitted probability is
  * the fraction of searched (label=1) TRAINING rows it captured — a
  * deterministic orientation that makes the score a real membership degree.
  * Driver state is k cluster fractions (bounded).
  */
class KMeansDecider(val threshold: Double = 0.5, val k: Int = 3) extends Decider {
  val name = "KMeansDecider"
  def learn(train: DataFrame): DeciderModel = {
    val model = new KMeans().setK(k).setSeed(42).fit(train)
    val frac: Map[Int, Double] = model.transform(train)
      .groupBy(col("prediction"))
      .agg(avg(col("label")).as("frac"))
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
      .toMap
    val thr = threshold
    new DeciderModel {
      val name = "KMeansDecider"
      val threshold: Double = thr
      override def evaluate(df: DataFrame): DataFrame = {
        val scored = model.transform(df)
        // k-entry when-chain — stays in codegen, no UDF
        val prob = frac.foldLeft(lit(0.0)) { case (acc, (cid, f)) =>
          when(col("prediction") === cid, lit(f)).otherwise(acc)
        }
        finishProb(scored, prob).drop("prediction")
      }
    }
  }
}
