package perfbench

/** Order statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples a tail percentile must have beyond it. */
  val TailBeyond = 10

  /** The tail latency: the highest percentile that still has at least
    * `beyond` samples above it, i.e. the (n - beyond)-th smallest sample,
    * and never below the median: with 2 * `beyond` samples or fewer the
    * median stands in. Returns (percentile, value). */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond): (Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n <= 2 * beyond) (50.0, median(xs))
    else (100.0 * (n - beyond) / n, s(n - beyond - 1))
  }
}
