package perfbench

/** Order statistics used by every workload. Percentiles are nearest-rank. */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** Nearest-rank percentile of an array that is sorted in place. */
  def percentileSorted(s: Array[Double], p: Double): Double =
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
