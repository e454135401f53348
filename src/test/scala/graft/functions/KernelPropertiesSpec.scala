package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests mirroring the reference's own kernel properties
  * (`test/utils/test_data_analysis.py:6-94`): output lengths, NaN-freedom
  * after repair, approximate mean preservation, normalize contract.
  * Raw ScalaCheck (no scalatest bridge in the offline dependency set).
  */
class KernelPropertiesSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  private val series: Gen[Array[Double]] = for {
    n <- Gen.choose(5, 300)
    xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield xs.toArray

  private val timedSeries: Gen[(Array[Double], Array[Double])] = for {
    n <- Gen.choose(5, 300)
    ts <- Gen.listOfN(n, Gen.choose(0.0, 1000.0))
    ys <- Gen.listOfN(n, Gen.choose(5.0, 25.0))
  } yield (ts.sorted.distinct.toArray, ys.take(ts.sorted.distinct.length).toArray)

  test("paa output length equals bins when n >= bins") {
    check(Prop.forAll(series, Gen.choose(1, 5)) { (x, b) =>
      x.length < b || Kernels.paa(x, b).length == b
    })
  }

  test("ekviPaa: length == bins, NaN-free after repair, mean in range") {
    check(Prop.forAll(timedSeries, Gen.choose(2, 50)) { case ((t, y), bins) =>
      if (t.length < bins || t.length != y.length || t.length < 2) true
      else {
        val (xa, ya) = Kernels.ekviPaa(t, y, Some(bins.toDouble))
        val m1 = ya.sum / ya.length
        xa.length == bins && ya.length == bins &&
          ya.forall(!_.isNaN) &&
          m1 >= y.min - 1e-9 && m1 <= y.max + 1e-9
      }
    })
  }

  test("normalize: zero mean, unit std (or all zeros for constant input)") {
    check(Prop.forAll(series) { x =>
      val n = Kernels.normalize(x)
      val mean = n.sum / n.length
      if (n.forall(_ == 0.0)) true
      else {
        val std = math.sqrt(n.map(v => (v - mean) * (v - mean)).sum / n.length)
        math.abs(mean) < 1e-9 && math.abs(std - 1.0) < 1e-9
      }
    })
  }

  test("computeBins respects the minimum") {
    check(Prop.forAll(timedSeries, Gen.choose(1.0, 500.0)) { case ((t, _), dpb) =>
      t.isEmpty || Kernels.computeBins(t, dpb) >= 5
    })
  }

  test("SAX words have PAA length letters within the alphabet") {
    check(Prop.forAll(series, Gen.choose(2, 16), Gen.choose(3, 20)) { (x, ws, alpha) =>
      if (x.length < ws) true
      else {
        val w = Kernels.paa(Kernels.normalize(x), ws)
        val word = Sax.alphabetize(w, alpha)
        word.length == w.length &&
          word.forall(c => c >= 'a' && c < ('a' + alpha).toChar)
      }
    })
  }

  test("MINDIST is symmetric, self-distance zero, scales linearly") {
    val letters = Gen.choose(3, 20).flatMap { alpha =>
      Gen.choose(2, 12).flatMap { len =>
        Gen.listOfN(len, Gen.choose(0, alpha - 1)).flatMap { as =>
          Gen.listOfN(len, Gen.choose(0, alpha - 1)).map { bs =>
            (alpha, as.map(i => ('a' + i).toChar).mkString,
              bs.map(i => ('a' + i).toChar).mkString)
          }
        }
      }
    }
    check(Prop.forAll(letters) { case (alpha, a, b) =>
      val ab = Sax.minDist(a, b, alpha, 1.0)
      Sax.minDist(b, a, alpha, 1.0) == ab &&
        Sax.minDist(a, a, alpha, 1.0) == 0.0 &&
        math.abs(Sax.minDist(a, b, alpha, 2.5) - 2.5 * ab) < 1e-9
    })
  }

  test("pyRound equals exact half-even rounding on random doubles and near-ties") {
    def exact(v: Double, d: Int): Double =
      new java.math.BigDecimal(v).setScale(d, java.math.RoundingMode.HALF_EVEN).doubleValue
    def same(v: Double, d: Int): Unit = {
      val (got, want) = (Kernels.pyRound(v, d), exact(v, d))
      assert(java.lang.Double.doubleToRawLongBits(got) == java.lang.Double.doubleToRawLongBits(want),
        s"pyRound($v, $d) = $got, exact $want")
    }
    val r = new scala.util.Random(11)
    (1 to 200000).foreach { _ =>
      val d = r.nextInt(9)
      // any magnitude, signed values around the cleaning scales, raw bit patterns
      same(math.pow(10, r.nextInt(40) - 20) * (r.nextDouble() * 2 - 1), d)
      same(r.nextDouble() * 2000 - 1000, d)
      val bits = java.lang.Double.longBitsToDouble(r.nextLong())
      if (bits.isFinite) same(bits, d)
    }
    // decimal ties k.5·10^-d and their neighbours a few ulps away
    (1 to 20000).foreach { _ =>
      val d = r.nextInt(8)
      val tie = java.math.BigDecimal.valueOf(r.nextLong() % 10000000 * 10 + 5, d + 1).doubleValue
      var v = tie
      (1 to 3).foreach(_ => v = math.nextDown(v))
      (1 to 7).foreach { _ => same(v, d); same(-v, d); v = math.nextUp(v) }
    }
    Seq(2.675 -> 2, 0.125 -> 2, 0.5 -> 0, 1.5 -> 0, 2.5 -> 0, -0.0004 -> 3, -0.0 -> 1,
      1e300 -> 5, 4.5e15 -> 0, 1e-320 -> 3).foreach { case (v, d) => same(v, d) }
  }

  test("degenerate kernel inputs: no hang, scipy-0.19 zero-variance values") {
    // empty input / non-positive bins: a zero PAA step must yield no
    // frames, not an unbounded loop (reachable from SQL sax_word)
    assert(Kernels.paa(Array.empty[Double], 10).isEmpty)
    assert(Kernels.paa(Array(1.0, 2.0), 0).isEmpty)
    // the pinned scipy 0.19 guards m2 == 0 with np.where(…, 0, …)
    assert(Kernels.skewness(Array(5.0, 5.0, 5.0)) == 0.0)
    assert(Kernels.kurtosis(Array(5.0, 5.0, 5.0)) == -3.0)
    // python3 round(): 2.675 is exactly 2.67499999999999982 in binary —
    // CPython rounds DOWN; a shortest-decimal BigDecimal would see a tie
    assert(Kernels.pyRound(2.675, 2) == 2.67)
    assert(Kernels.pyRound(0.125, 2) == 0.12) // representable tie: half-even
    // all observations on one timestamp: NaN histogram, not min-of-empty
    val (h, _) = Kernels.histogram(Array(3.0, 3.0, 3.0), Array(1.0, 2.0, 3.0))
    assert(h.forall(_.isNaN))
    // sub-unit slide window (sparse curve over a huge span): finite result
    val sparse = Array.tabulate(20)(i => 10.0 + (i % 5) * 0.3)
    val d = Sax.dissimilaritySlide(sparse, 5000, sparse, 5, 7, 0.25)
    assert(!d.isNaN && !d.isInfinite)
  }

  test("ekviPaa single-pass binning matches the O(b·n) border-scan definition") {
    check(Prop.forAll(timedSeries, Gen.choose(2, 50)) { case ((t, y), bins) =>
      if (t.length < 2 || t.length != y.length || t.length < bins) true
      else {
        val yy = y.take(t.length)
        val (xa, ya) = Kernels.ekviPaa(t, yy, Some(bins.toDouble), fixNans = false)
        // re-derive with the definitional nested border scan
        val b = bins
        val (xmin, xmax) = (t.min, t.max)
        val halfStep = (xmax - xmin) / b / 2.0
        val lo = xmin - halfStep
        val hi = xmax + halfStep
        val borders = Array.tabulate(b + 1)(i => lo + i * (hi - lo) / b)
        (0 until b).forall { i =>
          var sx = 0.0; var sy = 0.0; var cnt = 0
          t.indices.foreach { j =>
            if (t(j) >= borders(i) && t(j) < borders(i + 1)) {
              sx += t(j); sy += yy(j); cnt += 1
            }
          }
          val (ex, ey) =
            if (cnt > 0) (sx / cnt, sy / cnt)
            else ((borders(i + 1) + borders(i)) / 2, Double.NaN)
          // exact equality including NaN slots — the rewrite must be
          // bit-identical, not approximately equal
          java.lang.Double.compare(xa(i), ex) == 0 &&
            java.lang.Double.compare(ya(i), ey) == 0
        }
      }
    })
  }
}
