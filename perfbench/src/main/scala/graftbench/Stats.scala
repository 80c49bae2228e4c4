package graftbench

/** Summary statistics shared by every workload. */
object Stats {

  /** 1-based nearest rank of percentile `p` among `n` samples (the epsilon
    * keeps 99.9% of 10000 at 9990, not 9991).
    */
  def rank(n: Int, p: Double): Int = math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Percentiles a tail metric may report, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The tail rule: the highest ladder percentile with at least ten samples
    * beyond it. Below 20 samples no percentile qualifies and the median
    * stands in (reported as p50, so the sample count shows why).
    */
  def tailPercentile(n: Int): Double =
    TailLadder.find(p => beyond(n, p) >= 10).getOrElse(50.0)

  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** The tail by the rule above. */
  def tail(xs: Seq[Double]): Tail = {
    val p = tailPercentile(xs.size)
    Tail(p, if (beyond(xs.size, p) >= 10) percentile(xs, p) else median(xs), xs.size)
  }
}
