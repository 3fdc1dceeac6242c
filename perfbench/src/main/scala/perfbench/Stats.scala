package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** The fewest samples a `_p90` metric may rest on: ten samples beyond
    * the 90th percentile.
    */
  val MinP90Samples = 100

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile rank $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** `<name>_p90` when enough samples back it, else nothing. */
  def p90Named(name: String, xs: Seq[Double]): Map[String, Double] =
    if (xs.length >= MinP90Samples) Map(s"${name}_p90" -> percentile(xs, 0.9))
    else Map.empty

  /** Quartile cut points as Python's `statistics.quantiles(xs, n=4)`
    * computes them (the default "exclusive" method), so the spread the
    * benchmark reports about itself matches the one its readers compute.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val m = s.length + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), s.length - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** Inter-quartile distance as a share of the median. */
  def spread(xs: Seq[Double]): Double = {
    val (q1, _, q3) = quartiles(xs)
    (q3 - q1) / median(xs)
  }
}
