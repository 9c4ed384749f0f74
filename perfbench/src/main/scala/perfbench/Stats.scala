package perfbench

/** Order statistics used by every workload's metrics. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail readout: the highest whole percentile with at least 10
    * samples beyond it (p90 at n = 100, p95 at n = 200). Below 20 samples
    * no percentile above the median qualifies, and the maximum is reported
    * instead. Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Int) =
    if (xs.size < 20) (xs.max, 100)
    else {
      val pct = math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt
      (quantile(xs, pct / 100.0), pct)
    }
}
