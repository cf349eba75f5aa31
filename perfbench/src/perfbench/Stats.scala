package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated quantile (the "linear" rule of numpy and of
    * Python's `statistics.quantiles(method="inclusive")`); NaN when empty.
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0.0 && p <= 1.0, s"quantile $p outside [0, 1]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val h = p * (s.size - 1)
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that still has at least `beyond`
    * samples above it, i.e. the largest p (in hundredths, at most 99) with
    * n * (1 - p) >= beyond. None when even the median lacks that support.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] = {
    (99 to 50 by -1).find(p => n.toLong * (100 - p) >= beyond * 100L)
  }

  /** A latency series summarised the way the benchmark reports timings:
    * count, median, the fixed percentiles the metrics name, and the
    * highest percentile with at least ten samples beyond it.
    */
  final case class Summary(n: Int, p50: Double, p75: Double, p90: Double,
      tailP: Option[Int], tail: Double)

  def summary(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.size)
    Summary(xs.size, quantile(xs, 0.5), quantile(xs, 0.75),
      quantile(xs, 0.9), tp, tp.map(p => quantile(xs, p / 100.0))
        .getOrElse(Double.NaN))
  }
}
