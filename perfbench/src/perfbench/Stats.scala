package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above it:
    * the 11th-largest sample, labelled with the percentile it sits at
    * (100 samples give p90, 20 give p50). None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 11) None
    else Some((100 * (n - 10) / n, xs.sorted.apply(n - 11)))
  }
}
