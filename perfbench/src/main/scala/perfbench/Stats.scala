package perfbench

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Percentiles a tail may be reported at. */
  val Ladder = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile with at least ten samples beyond it,
    * its value (nearest rank) and the sample count. A fixed ladder keeps
    * the reported percentile the same across runs whose op counts differ
    * a little. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else {
      val p = Ladder.filter(p => n * (1 - p / 100) >= 10).lastOption.getOrElse(50.0)
      (s(math.min(n - 1, math.ceil(n * p / 100).toInt - 1)), p, n)
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
