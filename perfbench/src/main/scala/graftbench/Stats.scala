package graftbench

/** Order statistics used by every reported latency. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail latency together with the percentile it was taken at. */
  final case class Tail(value: Double, percentile: Double, samples: Int,
                        beyond: Int)

  /** The value at the highest percentile that still has at least
    * `minBeyond` samples above it: with n sorted samples, the sample of
    * rank n - minBeyond (1-based), so exactly `minBeyond` lie beyond it.
    * Below 2 * minBeyond samples that rank falls under the median, so
    * the rule keeps one sample in ten beyond, and at least one: the
    * second-slowest of up to 19 samples rather than a lone maximum.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val beyond = if (n >= 2 * minBeyond) minBeyond else math.max(1, n / 10)
    if (n <= beyond) Tail(s.last, 100.0, n, 0)
    else {
      val rank = n - beyond
      Tail(s(rank - 1), 100.0 * rank / n, n, beyond)
    }
  }
}
