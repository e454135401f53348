package graft.functions

import scala.collection.mutable.ArrayBuffer

/** Pure-Scala ports of the reference's numeric kernels
  * (`lcc/utils/data_analysis.py`), kept free of any Spark dependency so they
  * are unit-testable and callable from UDFs, Catalyst expressions, or plain
  * driver code alike. Semantics follow the reference exactly, including its
  * quirks (duplicate PAA frames when n < bins, distance-proportional — not
  * inverse-distance — interpolation weights in `fixMissing`, ordered i!=j
  * variogram pairs), because downstream SAX words are sensitive to them.
  *
  * All functions operate on one star's in-row arrays: at 100 TB scale the
  * parallel axis is stars (rows), not points-within-a-curve, so each kernel
  * is a per-row O(curve length) computation with no shuffle.
  */
object Kernels {

  /** Piecewise Aggregate Approximation (`data_analysis.py:14-51`).
    * Frame starts advance by `int(i * n/bins)`, so frames may repeat when
    * n < bins — intentional reference fidelity.
    */
  def paa(x: Array[Double], bins: Int): Array[Double] = {
    val n = x.length
    // degenerate input: step would be 0 and the frame loop could never
    // advance (reachable from SQL `sax_word(array(), …)` and from
    // sub-unit slide windows) — no frames, not a hang
    if (n == 0 || bins <= 0) return Array.empty
    val stepFloat = n / bins.toDouble
    val step = math.ceil(stepFloat).toInt
    val out = new ArrayBuffer[Double]()
    var frameStart = 0
    var i = 0
    while (frameStart <= n - step) {
      var s = 0.0
      var k = frameStart
      while (k < frameStart + step) { s += x(k); k += 1 }
      out += s / step
      i += 1
      frameStart = (i * stepFloat).toInt
    }
    out.toArray
  }

  /** Z-score normalize; all-zeros when the std-dev is below eps
    * (`data_analysis.py:143-164`). Population (ddof=0) std like numpy.
    */
  def normalize(x: Array[Double], eps: Double = 1e-6): Array[Double] = {
    val n = x.length
    if (n == 0) return Array.empty
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i); i += 1 }
    val mean = s / n
    var v = 0.0
    i = 0
    while (i < n) { val d = x(i) - mean; v += d * d; i += 1 }
    val std = math.sqrt(v / n)
    if (std < eps) Array.fill(n)(0.0)
    else x.map(xi => (xi - mean) / std)
  }

  /** Abbe value `n/(2(n-1)) * Σ(x_{i+1}-x_i)² / Σ(x-x̄)²`
    * (`data_analysis.py:167-193`); NaNs dropped first; `n` is the ORIGINAL
    * curve length (before any dimension reduction), per
    * `light_curve.py:getAbbe`.
    */
  def abbe(xIn: Array[Double], n: Int, dropna: Boolean = true): Double = {
    val x = if (dropna) xIn.filter(!_.isNaN) else xIn
    val m = x.length
    if (m == 0) return Double.NaN
    var s = 0.0
    var i = 0
    while (i < m) { s += x(i); i += 1 }
    val mean = s / m
    var sum1 = 0.0
    i = 1
    while (i < m) { val d = x(i) - x(i - 1); sum1 += d * d; i += 1 }
    var sum2 = 0.0
    i = 0
    while (i < m) { val d = x(i) - mean; sum2 += d * d; i += 1 }
    n / (2.0 * (n - 1.0)) * sum1 / sum2
  }

  /** Resolve the `bins` argument of `to_ekvi_PAA` (`data_analysis.py:84-112`):
    * None/0 → 1; a value in (0,1] is a fraction of the curve length (so the
    * default of 1 means "curve length"); `days_per_bin` overrides; capped at
    * curve length.
    */
  def ekviBins(n: Int, bins: Option[Double], daysPerBin: Option[Double],
               xFirst: Double, xLast: Double): Int = {
    var b: Double = bins.filter(_ != 0).getOrElse(1.0)
    if (b > 0 && b <= 1) b = (n * b).toInt.toDouble
    daysPerBin.foreach { dpb =>
      b = (xLast - xFirst) / dpb
      if (b > n) b = n.toDouble
    }
    if (b > n) b = n.toDouble
    b.toInt
  }

  /** Time-weighted resampling `to_ekvi_PAA` (`data_analysis.py:54-140`):
    * equal-width time bins spanning [min-h, max+h]; occupied bin → mean time
    * (or midpoint) and mean value; empty bin → midpoint and NaN, later fixed
    * by [[fixMissing]] when `fixNans`.
    */
  def ekviPaa(x: Array[Double], y: Array[Double], bins: Option[Double] = None,
              daysPerBin: Option[Double] = None, fixNans: Boolean = true,
              meanTime: Boolean = true): (Array[Double], Array[Double]) = {
    require(x.length == y.length, s"X and Y have no same length (${x.length} and ${y.length}")
    val n = x.length
    val b = ekviBins(n, bins, daysPerBin, x.head, x.last)
    val xmax = x.max
    val xmin = x.min
    val halfStep = (xmax - xmin) / b / 2.0
    // np.linspace(xmin-h, xmax+h, b+1)
    val lo = xmin - halfStep
    val hi = xmax + halfStep
    val borders = Array.tabulate(b + 1)(i => lo + i * (hi - lo) / b)
    // single pass over the points, O(n + b) instead of the O(b·n) border
    // scan (histogram calls this with b = n, making the scan quadratic on
    // the comparative hot path). The computed index is nudged until it
    // satisfies the EXACT border predicates of the scan, so membership —
    // and the per-bin, j-ascending summation order — is bit-identical.
    val sx = new Array[Double](b)
    val sy = new Array[Double](b)
    val cnt = new Array[Int](b)
    val width = (hi - lo) / b
    var j = 0
    while (j < n) {
      val xj = x(j)
      var idx = if (width > 0) ((xj - lo) / width).toInt else 0
      if (idx < 0) idx = 0 else if (idx > b - 1) idx = b - 1
      while (idx < b - 1 && xj >= borders(idx + 1)) idx += 1
      while (idx > 0 && xj < borders(idx)) idx -= 1
      if (xj >= borders(idx) && xj < borders(idx + 1)) {
        sx(idx) += xj; sy(idx) += y(j); cnt(idx) += 1
      }
      j += 1
    }
    val xa = new Array[Double](b)
    val ya = new Array[Double](b)
    var i = 0
    while (i < b) {
      if (cnt(i) > 0) {
        xa(i) = if (meanTime) sx(i) / cnt(i) else (borders(i + 1) + borders(i)) / 2
        ya(i) = sy(i) / cnt(i)
      } else {
        xa(i) = (borders(i + 1) + borders(i)) / 2
        ya(i) = Double.NaN
      }
      i += 1
    }
    if (fixNans) fixMissing(xa, ya) else (xa, ya)
  }

  /** NaN repair (`data_analysis.py:354-412`). Borders: leading NaNs take the
    * first valid value, trailing NaNs the last valid value (or, when
    * `replaceAtBorders=false`, leading NaNs are dropped and the array is
    * truncated at the first trailing NaN). Interior NaNs are filled left to
    * right from the (already filled) left neighbor and the next valid value,
    * with the reference's distance-PROPORTIONAL weights
    * `w_left = (x_p - x_{p-1}) / (x_r - x_{p-1})` — kept verbatim.
    */
  def fixMissing(xIn: Array[Double], yIn: Array[Double],
                 replaceAtBorders: Boolean = true): (Array[Double], Array[Double]) = {
    var x = xIn.clone()
    var y = yIn.clone()
    val firstValid = y.indexWhere(!_.isNaN)
    if (firstValid < 0) return (x, y) // all NaN: reference leaves it unchanged
    val lastValid = y.lastIndexWhere(!_.isNaN)
    if (replaceAtBorders) {
      var i = 0
      while (i < firstValid) { y(i) = y(firstValid); i += 1 }
      i = lastValid + 1
      while (i < y.length) { y(i) = y(lastValid); i += 1 }
    } else {
      x = x.slice(firstValid, lastValid + 1)
      y = y.slice(firstValid, lastValid + 1)
    }
    // interior fill (indices are relative to the possibly-sliced arrays)
    var p = 1
    while (p < y.length - 1) {
      if (y(p).isNaN) {
        var r = p + 1
        while (y(r).isNaN) r += 1
        val left = x(p) - x(p - 1)
        val right = x(r) - x(p)
        val wLeft = left / (left + right)
        val wRight = right / (left + right)
        y(p) = wLeft * y(p - 1) + wRight * y(r)
      }
      p += 1
    }
    (x, y)
  }

  /** Variogram (`data_analysis.py:196-246`): PAA-reduce t and y to `bins`;
    * all ordered pairs i≠j of (|Δt|, Δy²) where position i is non-NaN; sort
    * by Δt; PAA-reduce the pair lists back to `bins`; optionally log10 both.
    * O(bins²) local work per star — no shuffle.
    */
  def variogram(x: Array[Double], y: Array[Double], bins: Int = 20,
                logOpt: Boolean = true): (Array[Double], Array[Double]) = {
    val xr = paa(x, bins)
    val yr = paa(y, bins)
    val n = xr.length
    val vx = new ArrayBuffer[Double]()
    val vy = new ArrayBuffer[Double]()
    var i = 0
    while (i < n) {
      if (!xr(i).isNaN && !yr(i).isNaN) {
        var j = 0
        while (j < n) {
          if (i != j) {
            val xv = math.abs(xr(i) - xr(j))
            val d = yr(i) - yr(j)
            val yv = d * d
            if (!xv.isNaN && !yv.isNaN) { vx += xv; vy += yv }
          }
          j += 1
        }
      }
      i += 1
    }
    val (sx, sy) = sortPairs(vx.toArray, vy.toArray)
    val rx = paa(sx, bins)
    val ry = paa(sy, bins)
    if (logOpt) (rx.map(math.log10), ry.map(math.log10)) else (rx, ry)
  }

  /** Histogram of magnitudes (`data_analysis.py:249-299`): resample to the
    * original length via ekvi-PAA, optionally mean-center (NaN-aware mean),
    * drop NaNs, histogram over `binsNum` EDGES (binsNum-1 buckets, last bin
    * closed like np.histogram), optionally z-score the counts.
    */
  def histogram(xx: Array[Double], yy: Array[Double], binsNum: Int = 10,
                centred: Boolean = true, normed: Boolean = true): (Array[Double], Array[Double]) = {
    var x = ekviPaa(xx, yy, bins = Some(xx.length.toDouble))._2
    if (centred) {
      val valid = x.filter(!_.isNaN)
      val m = if (valid.nonEmpty) valid.sum / valid.length else Double.NaN
      x = x.map(_ - m)
    }
    x = x.filter(!_.isNaN)
    // all-NaN reduced curve (e.g. every observation on one timestamp):
    // a NaN histogram instead of min-of-empty crashing the task
    if (x.isEmpty)
      return (Array.fill(binsNum - 1)(Double.NaN), Array.fill(binsNum)(Double.NaN))
    val mn = x.min
    val mx = x.max
    val edges = Array.tabulate(binsNum)(i => mn + i * (mx - mn) / (binsNum - 1))
    val hist = new Array[Double](binsNum - 1)
    var i = 0
    while (i < x.length) {
      val v = x(i)
      if (v >= mn && v <= mx) {
        // np.histogram: [e_i, e_{i+1}) buckets, last bucket closed
        var b = ((v - mn) / (mx - mn) * (binsNum - 1)).toInt
        if (b >= binsNum - 1) b = binsNum - 2
        // guard against FP: ensure edge membership matches half-open rule
        while (b > 0 && v < edges(b)) b -= 1
        while (b < binsNum - 2 && v >= edges(b + 1)) b += 1
        hist(b) += 1
        }
      i += 1
    }
    val h = if (normed) normalize(hist) else hist
    (h, edges)
  }

  /** Sort y by x (`data_analysis.py:302-315`); stable like np.argsort is not
    * guaranteed (numpy quicksort), but ties in x with different y only differ
    * in downstream PAA means when y values differ — we use a stable sort for
    * determinism.
    */
  def sortPairs(x: Array[Double], y: Array[Double], rev: Boolean = false): (Array[Double], Array[Double]) = {
    val idx = x.indices.sortBy(x(_))
    val ordered = if (rev) idx.reverse else idx
    (ordered.map(x(_)).toArray, ordered.map(y(_)).toArray)
  }

  /** Word length from a days-per-bin ratio (`data_analysis.py:318-344`):
    * banker's rounding of range/ratio, floored at `setMin`.
    */
  def computeBins(xTime: Array[Double], daysPerBin: Double, setMin: Int = 5): Int = {
    val range = xTime.max - xTime.min
    var numBins = math.rint(range / daysPerBin).toInt
    if (setMin > 0 && numBins < setMin) numBins = setMin
    numBins
  }

  /** Least-squares slope of y on x (np.polyfit(x, y, 1)[0] in
    * `variogram_slope_descr.py:50`), closed form.
    */
  def lsqSlope(x: Array[Double], y: Array[Double]): Double = {
    val n = x.length
    var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0
    var i = 0
    while (i < n) { sx += x(i); sy += y(i); sxy += x(i) * y(i); sxx += x(i) * x(i); i += 1 }
    (n * sxy - sx * sy) / (n * sxx - sx * sx)
  }

  /** Variogram slope feature (`variogram_slope_descr.py:35-54`). */
  def variogramSlope(time: Array[Double], mag: Array[Double],
                     daysPerBin: Double, absolute: Boolean = false): Double = {
    val bins = computeBins(time, daysPerBin)
    val (vx, vy) = variogram(time, mag, bins)
    val slope = lsqSlope(vx, vy)
    if (absolute) math.abs(slope) else slope
  }

  /** Abbe value of the (optionally ekvi-PAA-reduced) curve with n = original
    * length (`light_curve.py:getAbbe`).
    */
  def curveAbbe(time: Array[Double], mag: Array[Double], bins: Option[Int]): Double = {
    val x = bins match {
      case Some(b) if b != 0 => ekviPaa(time, mag, Some(b.toDouble))._2
      case _                 => mag
    }
    abbe(x, time.length)
  }

  /** Curve density: points per time unit after ekvi-PAA
    * (`curve_density_descr.py:7-35`).
    */
  def curveDensity(time: Array[Double], mag: Array[Double]): Double = {
    val (xr, _) = ekviPaa(time, mag)
    xr.length / (xr.max - xr.min)
  }

  /** LC ingest cleaning (`light_curve.py:196-204`): drop observations where
    * any of t/m/e is NaN/non-finite or a sentinel bad value; round to
    * 5/3/3 decimals with python3's round-half-even-on-exact-value semantics.
    */
  def cleanLc(time: Array[Double], mag: Array[Double], err: Array[Double]):
      (Array[Double], Array[Double], Array[Double]) = {
    def good(x: Double) = x.isFinite && x != -99.0 // -99.0: the numeric "-99"/"-99.0" sentinel
    val n = time.length
    val (t, m, e) = (new Array[Double](n), new Array[Double](n), new Array[Double](n))
    var kept = 0
    var i = 0
    while (i < n) {
      if (good(time(i)) && good(mag(i)) && good(err(i))) {
        t(kept) = pyRound(time(i), 5); m(kept) = pyRound(mag(i), 3); e(kept) = pyRound(err(i), 3)
        kept += 1
      }
      i += 1
    }
    (java.util.Arrays.copyOf(t, kept), java.util.Arrays.copyOf(m, kept), java.util.Arrays.copyOf(e, kept))
  }

  /** python3 round(): half-even on the EXACT binary value. Scala's
    * `BigDecimal(Double)` uses the shortest-decimal form (so 2.675 would
    * look like a tie and round UP to 2.68 where CPython sees
    * 2.67499999999999982 and rounds down) — the java.math constructor
    * keeps the exact expansion.
    *
    * Fast path: `x = v·10^d` is within half an ulp of the exact product, so
    * `rint(x)` is the exact product's nearest integer `n` unless `x` lies
    * within a few ulps of a .5 tie; `n` and `10^d` are then exact doubles,
    * and their IEEE quotient is the correctly rounded `n / 10^d`, the double
    * `BigDecimal.doubleValue` returns. Near-ties, |x| ≥ 2^52, non-finite
    * values and digits outside [0, 22] take the exact path.
    */
  def pyRound(v: Double, digits: Int): Double = {
    if (digits >= 0 && digits < Pow10.length) {
      val p = Pow10(digits)
      val x = v * p
      if (math.abs(x) < TwoPow52 && math.abs(x - math.floor(x) - 0.5) > 4 * math.ulp(x)) {
        val n = math.rint(x)
        return if (n == 0.0) 0.0 else n / p // the exact path yields +0.0, never -0.0
      }
    }
    new java.math.BigDecimal(v).setScale(digits, java.math.RoundingMode.HALF_EVEN).doubleValue
  }

  /** 10^0 … 10^22: the powers of ten a double holds exactly (each product
    * below is exact, where `math.pow` may be an ulp off).
    */
  private val Pow10 = Array.iterate(1.0, 23)(_ * 10)
  private val TwoPow52 = 4503599627370496.0

  private def centralMoment(x: Array[Double], k: Int): Double = {
    val n = x.length
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i); i += 1 }
    val m = s / n
    var acc = 0.0
    i = 0
    while (i < n) { acc += math.pow(x(i) - m, k); i += 1 }
    acc / n
  }

  /** scipy.stats.skew default semantics (biased): m3 / m2^1.5, with the
    * pinned scipy 0.19's `np.where(m2 == 0, 0, …)` zero-variance guard
    * (`skewness_desc.py:37-62`) — a constant curve scores 0, not NaN.
    */
  def skewness(x: Array[Double]): Double = {
    val m2 = centralMoment(x, 2)
    if (m2 == 0.0) 0.0 else centralMoment(x, 3) / math.pow(m2, 1.5)
  }

  /** scipy.stats.kurtosis default semantics (Fisher, biased): m4/m2² − 3,
    * zero-variance → 0 − 3 like the pinned scipy 0.19
    * (`kurtosis_desc.py:37-61`).
    */
  def kurtosis(x: Array[Double]): Double = {
    val m2 = centralMoment(x, 2)
    if (m2 == 0.0) -3.0 else centralMoment(x, 4) / math.pow(m2, 2.0) - 3.0
  }
}
