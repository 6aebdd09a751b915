package perfbench

/** Order statistics and the least-squares slope the benchmark reports. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of a non-empty sample;
    * the same rule as numpy's default and Python's `statistics.quantiles`
    * with `method="inclusive"`.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Ordinary least-squares slope of y on x; 0 when x does not vary. */
  def slope(points: Seq[(Double, Double)]): Double = {
    if (points.size < 2) 0.0
    else {
      val n = points.size.toDouble
      val mx = points.map(_._1).sum / n
      val my = points.map(_._2).sum / n
      val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (sxx == 0) 0.0
      else points.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
  }
}
