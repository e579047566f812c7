package graft.perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Percentiles tried for a tail figure, highest last. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Nearest-rank percentile of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** Samples strictly above the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest ladder percentile with at least ten samples beyond it,
    * as (percentile, value, samples beyond it); None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    Ladder.filter(p => beyond(xs.length, p) >= 10).lastOption
      .map(p => (p, percentile(xs, p), beyond(xs.length, p)))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
