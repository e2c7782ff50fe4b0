package perfbench

/** Order statistics for the benchmark's timings.
  *
  * Percentiles use the linear-interpolation rule of Python's
  * `statistics.quantiles(method="exclusive")` (1-based position
  * p·(n+1)); where that position falls outside [1, n] the extreme
  * sample is returned instead of extrapolating.
  */
object Stats {
  /** Samples needed before a percentile `p` is backed by at least ten
    * observations beyond it: 100 for p90, 20 for p50.
    */
  def minSamples(p: Double): Int = math.ceil(10.0 / (1.0 - p) - 1e-9).toInt

  def percentile(samples: Seq[Double], p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"percentile $p outside (0, 1)")
    if (samples.isEmpty) return Double.NaN
    val s = samples.sorted
    val n = s.size
    if (n == 1) return s.head
    val pos = p * (n + 1) // 1-based
    if (pos <= 1.0) s.head
    else if (pos >= n) s.last
    else {
      val lo = pos.toInt
      val frac = pos - lo
      s(lo - 1) + frac * (s(lo) - s(lo - 1))
    }
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 0.5)
}
