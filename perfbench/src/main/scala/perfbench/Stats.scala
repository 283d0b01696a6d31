package perfbench

/** Order statistics and the fixed-plus-per-event fit. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0-100), or None when fewer than 10
    * samples lie above it: a tail percentile read from a handful of
    * samples is a single sample, not a percentile.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) return None
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    if (s.length - rank < 10) None else Some(s(rank - 1))
  }

  /** Least-squares `t = a + b * n`; returns (a, b). */
  def fit(points: Seq[(Double, Double)]): (Double, Double) = {
    require(points.map(_._1).distinct.size >= 2, "fit needs two distinct n")
    val k = points.length.toDouble
    val mx = points.map(_._1).sum / k
    val my = points.map(_._2).sum / k
    val sxy = points.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val b = sxy / sxx
    (my - b * mx, b)
  }
}
