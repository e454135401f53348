package graft.ml

import graft.functions.{Comparative, Kernels}
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Descriptors (SURVEY §2.8): feature-extraction Transformers over the star
  * DataFrame (schema `graft.model.Star`). Each appends one or more double
  * columns named by `outputCols` — the Spark equivalent of the reference's
  * per-descriptor `LABEL` columns in the feature matrix
  * (`stars_filter.py:190-199`).
  *
  * Stars without a light curve yield null features
  * (`base_descriptor.py:49-65` NONE_VALUE), which the filter later drops
  * (`stars_filter.py:203` dropna).
  *
  * Scale: every descriptor is a per-row kernel over the in-row LC arrays —
  * embarrassingly parallel across stars, no shuffle. Comparative descriptors
  * evaluate against a handful of template curves captured in the UDF closure
  * (broadcast with the task binary; 1–50 templates per the reference).
  */
abstract class Descriptor(override val uid: String) extends Transformer {
  def outputCols: Seq[String]

  protected def lcTime: Column = col("lightCurves").getItem(0).getField("time")
  protected def lcMag: Column = col("lightCurves").getItem(0).getField("mag")
  // A present-but-empty curve counts as "no LC" (`stars_searcher.py:74`
  // checks `len(star.lightCurve.mag)`), so empty arrays never reach the
  // kernels — they null out like the NONE_VALUE contract instead.
  protected def hasLc: Column = size(col("lightCurves")) > 0 && size(lcMag) > 0

  /** Guard: null when the star has no LC (NONE_VALUE semantics). */
  protected def lcFeature(feature: Column): Column =
    when(hasLc, feature).otherwise(lit(null))

  override def transformSchema(schema: StructType): StructType =
    outputCols.foldLeft(schema)((s, c) => s.add(StructField(c, DoubleType)))

  /** The parameters that fix this descriptor's output, `uid` aside: two
    * descriptors of one class with equal keys compute the same columns, so
    * a grid search computes them once ([[ParamsEstimator]]). `None` (the
    * default) shares nothing.
    */
  private[ml] def sharingKey: Option[Seq[Any]] = None

  override def copy(extra: ParamMap): Transformer = this
}

/** A one-column descriptor: a kernel of the star's first light curve
  * (time, mag), null when the star has none. The kernel's udf is built once
  * per instance, not per `transform`, and is nondeterministic so that the
  * kernel runs exactly once per row.
  *
  * The concrete descriptors pin the serialVersionUID their classes had
  * before their kernels moved here, so filters saved earlier
  * ([[FilterSerializer]]) still load.
  */
abstract class CurveKernelDescr(uid: String) extends Descriptor(uid) {
  /** The kernel over (time, mag); it closes over its parameters, not over
    * the descriptor.
    */
  protected def kernel: (Array[Double], Array[Double]) => Double

  @transient private lazy val kernelUdf = {
    val f = kernel
    udf((t: Seq[Double], m: Seq[Double]) => f(t.toArray, m.toArray)).asNondeterministic()
  }

  override def transform(df: Dataset[_]): DataFrame =
    df.withColumn(outputCols.head, lcFeature(kernelUdf(lcTime, lcMag)))
}

private object CurveKernelDescr {
  /** The mags a moment descriptor reads: ekvi-PAA-reduced to `bins`, or raw. */
  def mags(t: Array[Double], m: Array[Double], bins: Option[Int]): Array[Double] =
    bins match {
      case Some(b) => Kernels.ekviPaa(t, m, Some(b.toDouble))._2
      case None    => m
    }
}

/** Abbe value of the ekvi-PAA-reduced curve (`abbe_value_descr.py:4-49`);
  * `bins=None` → curve length (no reduction path difference matters:
  * `getAbbe` without bins uses raw mags).
  */
@SerialVersionUID(1182130971029561720L)
class AbbeValueDescr(val bins: Option[Int] = None,
                     override val uid: String = Identifiable.randomUID("abbeValue"))
    extends CurveKernelDescr(uid) {
  override val outputCols: Seq[String] = Seq("abbe_value")
  override private[ml] def sharingKey = Some(Seq(bins))
  override protected def kernel = {
    val b = bins
    (t, m) => Kernels.curveAbbe(t, m, b)
  }
}

/** Kurtosis of the (optionally reduced) mags (`kurtosis_desc.py:8-61`). */
@SerialVersionUID(-6947306257548364520L)
class KurtosisDescr(val bins: Option[Int] = None, val absolute: Boolean = false,
                    override val uid: String = Identifiable.randomUID("kurtosis"))
    extends CurveKernelDescr(uid) {
  override val outputCols: Seq[String] = Seq("kurtosis")
  override private[ml] def sharingKey = Some(Seq(bins, absolute))
  override protected def kernel = {
    val (b, abs0) = (bins, absolute)
    (t, m) => {
      val k = Kernels.kurtosis(CurveKernelDescr.mags(t, m, b))
      if (abs0) math.abs(k) else k
    }
  }
}

/** Skewness of the (optionally reduced) mags (`skewness_desc.py:8-62`). */
@SerialVersionUID(-4503678897710272308L)
class SkewnessDescr(val bins: Option[Int] = None, val absolute: Boolean = false,
                    override val uid: String = Identifiable.randomUID("skewness"))
    extends CurveKernelDescr(uid) {
  override val outputCols: Seq[String] = Seq("skewness")
  override private[ml] def sharingKey = Some(Seq(bins, absolute))
  override protected def kernel = {
    val (b, abs0) = (bins, absolute)
    (t, m) => {
      val s = Kernels.skewness(CurveKernelDescr.mags(t, m, b))
      if (abs0) math.abs(s) else s
    }
  }
}

/** Points per time unit after ekvi-PAA (`curve_density_descr.py:7-35`). */
@SerialVersionUID(6415447155458611132L)
class CurveDensityDescr(override val uid: String = Identifiable.randomUID("curveDensity"))
    extends CurveKernelDescr(uid) {
  override val outputCols: Seq[String] = Seq("curve_density")
  override private[ml] def sharingKey = Some(Nil)
  override protected def kernel = Kernels.curveDensity _
}

/** Slope of the (log-)variogram linear fit (`variogram_slope_descr.py:5-54`). */
@SerialVersionUID(587656884063174449L)
class VariogramSlopeDescr(val daysPerBin: Double, val absolute: Boolean = false,
                          override val uid: String = Identifiable.randomUID("varioSlope"))
    extends CurveKernelDescr(uid) {
  override val outputCols: Seq[String] = Seq("variogram_slope")
  override private[ml] def sharingKey = Some(Seq(daysPerBin, absolute))
  override protected def kernel = {
    val (dpb, abs0) = (daysPerBin, absolute)
    (t, m) => Kernels.variogramSlope(t, m, dpb, abs0)
  }
}

/** (ra, dec) projection (`position_descriptor.py:4-27`). */
class PositionDescriptor(override val uid: String = Identifiable.randomUID("position"))
    extends Descriptor(uid) {
  override val outputCols: Seq[String] = Seq("ra", "dec")
  override private[ml] def sharingKey = Some(Nil)
  override def transform(df: Dataset[_]): DataFrame =
    df.withColumn("ra", col("coo").getField("ra"))
      .withColumn("dec", col("coo").getField("dec"))
}

/** Magnitude differences from `more` (`color_index_descr.py:5-98`).
  * Deliberate deviation from the reference's falsy-zero bug (magnitude 0.0
  * treated as missing, survey §7.5.7): we null-check instead.
  */
class ColorIndexDescr(val colors: Seq[(String, String)],
                      override val uid: String = Identifiable.randomUID("colorIndex"))
    extends Descriptor(uid) {
  override val outputCols: Seq[String] =
    colors.map { case (a, b) => s"${b}-${a}" }
  override private[ml] def sharingKey = Some(Seq(colors))
  override def transform(df: Dataset[_]): DataFrame =
    colors.foldLeft(df.toDF()) { case (d, (a, b)) =>
      d.withColumn(s"${b}-${a}",
        element_at(col("more"), b).cast("double") -
          element_at(col("more"), a).cast("double"))
    }
}

/** Arbitrary `more` attributes as floats (`property_desc.py:4-70`). */
class PropertyDescr(val attributeNames: Seq[String],
                    override val uid: String = Identifiable.randomUID("property"))
    extends Descriptor(uid) {
  override val outputCols: Seq[String] = attributeNames
  override private[ml] def sharingKey = Some(Seq(attributeNames))
  override def transform(df: Dataset[_]): DataFrame =
    attributeNames.foldLeft(df.toDF()) { (d, a) =>
      d.withColumn(a, element_at(col("more"), a).cast("double"))
    }
}

/** The normalized reduced curve itself as `bins` feature columns
  * (`curve_descr.py:12-121`), optionally PCA-reduced to `redDim`
  * (`curve_descr.py:113-121`). The reference fits its PCA lazily on the
  * first evaluated batch (statefulness quirk); per survey §7.5.9 we fit
  * once at train time — [[StarsFilter.learn]] calls [[fitReduction]] on the
  * combined searched+others sample, exactly the batch the reference's
  * `learn` → `getSpaceCoordinates(searched+others)` would first see. The
  * fitted reduction is a tiny (mean, components) pair applied per-row —
  * broadcast with the task binary, no shuffle; stars without a light curve
  * bypass reduction as nulls (the NaN-row bypass, `curve_descr.py:102-105`).
  */
class CurveDescr(val bins: Int, val height: Option[Int] = None,
                 val redDim: Option[Int] = None,
                 override val uid: String = Identifiable.randomUID("curveDescr"))
    extends Descriptor(uid) {
  require(redDim.forall(rd => rd > 0 && rd < bins),
    "Number of samples have to be greater then reduced dimension")

  override val outputCols: Seq[String] = redDim match {
    case Some(rd) => (1 to rd).map(i => s"curve_pca_$i")
    case None     => (1 to bins).map(i => s"curve_point_$i")
  }
  // a red_dim descriptor carries its own fitted reduction: never shared
  override private[ml] def sharingKey = if (redDim.isEmpty) Some(Seq(bins, height)) else None

  /** sklearn-compatible fitted PCA: column means + components[redDim][bins];
    * transform is `(y - mean) · componentsᵀ` (sklearn centers on transform,
    * Spark's PCAModel does not — so we keep the pieces and center ourselves).
    */
  private[ml] var reduction: Option[(Array[Double], Array[Array[Double]])] = None
  private[ml] def needsFit: Boolean = redDim.isDefined && reduction.isEmpty

  private def curveUdf = {
    val (b, h) = (bins, height)
    udf((t: Seq[Double], m: Seq[Double]) => {
      val (_, yEkvi) = Kernels.ekviPaa(t.toArray, m.toArray)
      var y = if (yEkvi.length > b) Kernels.paa(yEkvi, b) else Kernels.paa(m.toArray, b)
      val range = y.max - y.min
      y = h match {
        case Some(hh) => y.map(v => math.rint(hh * v / range)) // np round = half-even
        case None     => y.map(_ / range)
      }
      val mean = y.sum / y.length
      y.map(_ - mean)
    }).asNondeterministic()
  }

  /** Fit the `red_dim` PCA on the training stars (one pass for the mean,
    * one distributed SVD on the small bins-wide matrix).
    */
  def fitReduction(stars: Dataset[_]): Unit = redDim.foreach { rd =>
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.stat.Summarizer
    val curves = stars.toDF()
      .withColumn("_curve", when(hasLc, curveUdf(lcTime, lcMag)).otherwise(lit(null)))
      .filter(col("_curve").isNotNull)
      .select(array_to_vector(col("_curve")).as("_vec"))
    val mean = curves.select(Summarizer.mean(col("_vec")).as("m"))
      .head().getAs[org.apache.spark.ml.linalg.Vector]("m").toArray
    // principal components from covariance (mean-invariant), k = redDim
    val pcaModel = new org.apache.spark.ml.feature.PCA()
      .setInputCol("_vec").setOutputCol("_red").setK(rd).fit(curves)
    val pc = pcaModel.pc // bins x rd, column-major
    val components = Array.tabulate(rd)(j => Array.tabulate(bins)(i => pc(i, j)))
    reduction = Some((mean, components))
  }

  override def transform(df: Dataset[_]): DataFrame = {
    val u = curveUdf
    val arr: Column = redDim match {
      case None => u(lcTime, lcMag)
      case Some(rd) =>
        val (mean, comps) = reduction.getOrElse(throw new IllegalStateException(
          "CurveDescr red_dim reduction not fitted — learn the filter first"))
        val red0 = udf((y0: Seq[Double]) => {
          val y = y0.toArray // O(1) indexing for the bins-wide centering
          val centered = Array.tabulate(mean.length)(i => y(i) - mean(i))
          Array.tabulate(rd) { j =>
            val c = comps(j)
            var acc = 0.0
            var i = 0
            while (i < centered.length) { acc += centered(i) * c(i); i += 1 }
            acc
          }.toSeq
        }).asNondeterministic()
        red0(u(lcTime, lcMag))
    }
    val withArr = df.withColumn("_curve", when(hasLc, arr).otherwise(lit(null)))
    outputCols.zipWithIndex.foldLeft(withArr) { case (d, (c, i)) =>
      d.withColumn(c, col("_curve").getItem(i))
    }.drop("_curve")
  }
}

/** Shared shape of the three comparative SAX descriptors (§2.8): pairwise
  * dissimilarity vs template curves aggregated by `meth`.
  */
@SerialVersionUID(925418222689480203L)
abstract class ComparativeDescr(uid: String) extends CurveKernelDescr(uid) {
  def templates: Seq[(Array[Double], Array[Double])]
  def meth: String
  protected def pairFn: (Array[Double], Array[Double], Array[Double], Array[Double]) => Double
  /** The pair function's parameters besides the templates and `meth`. */
  protected def pairParams: Seq[Any]
  override private[ml] def sharingKey =
    Some(templates.map { case (t, m) => (t.toSeq, m.toSeq) } +: meth +: pairParams)

  override protected def kernel = {
    val (tmpl, m, pf) = (templates, meth, pairFn)
    (t, mag) => Comparative.feature(t, mag, tmpl, m)(pf)
  }
}

/** SAX dissimilarity of light curves vs templates (`curves_shape_descr.py`). */
class CurvesShapeDescr(val templates: Seq[(Array[Double], Array[Double])],
                       val daysPerBin: Double, val alphabetSize: Int,
                       val slide: Option[Double] = Some(0.25),
                       val meth: String = "average",
                       override val uid: String = Identifiable.randomUID("curvesShape"))
    extends ComparativeDescr(uid) {
  override val outputCols: Seq[String] = Seq("curves_shape_dissim")
  override protected def pairParams = Seq(daysPerBin, alphabetSize, slide)
  override protected def pairFn = (st, sm, ct, cm) =>
    Comparative.curvesShapePair(st, sm, ct, cm, daysPerBin, alphabetSize, slide)
}

/** SAX dissimilarity of LC histograms (`hist_shape_descr.py`). */
class HistShapeDescr(val templates: Seq[(Array[Double], Array[Double])],
                     val bins: Int, val alphabetSize: Int,
                     val slide: Boolean = false, val meth: String = "average",
                     override val uid: String = Identifiable.randomUID("histShape"))
    extends ComparativeDescr(uid) {
  override val outputCols: Seq[String] = Seq("hist_shape_dissim")
  override protected def pairParams = Seq(bins, alphabetSize, slide)
  override protected def pairFn = (st, sm, ct, cm) =>
    Comparative.histShapePair(st, sm, ct, cm, bins, alphabetSize, slide)
}

/** SAX dissimilarity of LC variograms (`variogram_shape_descr.py`). */
class VariogramShapeDescr(val templates: Seq[(Array[Double], Array[Double])],
                          val bins: Int, val alphabetSize: Int,
                          val slide: Boolean = false, val meth: String = "average",
                          override val uid: String = Identifiable.randomUID("varioShape"))
    extends ComparativeDescr(uid) {
  override val outputCols: Seq[String] = Seq("vario_shape_dissim")
  override protected def pairParams = Seq(bins, alphabetSize, slide)
  override protected def pairFn = (st, sm, ct, cm) =>
    Comparative.varioShapePair(st, sm, ct, cm, bins, alphabetSize, slide)
}
