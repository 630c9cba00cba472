package graft.perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of an ascending sample. */
  def quantile(sorted: Seq[Double], q: Double): Double = {
    require(sorted.nonEmpty, "empty sample")
    val pos = q * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  /** Nearest-rank percentile `p` (0-100) of an ascending sample and the
    * number of samples strictly beyond its rank. */
  def percentile(sorted: Seq[Double], p: Double): (Double, Int) = {
    require(sorted.nonEmpty, "empty sample")
    // the epsilon keeps float error (99.9 / 100 * 10000 = 9990.000000000002)
    // from pushing an exact rank up by one
    val rank = math.max(1, math.ceil(p / 100 * sorted.length - 1e-9).toInt)
    (sorted(rank - 1), sorted.length - rank)
  }

  val Candidates: Seq[Double] = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile with at least `minBeyond` samples
    * beyond it, as (percentile, value); None when even the median lacks
    * them. */
  def highestSupported(sorted: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    Candidates.iterator.map(p => (p, percentile(sorted, p)))
      .collectFirst { case (p, (v, beyond)) if beyond >= minBeyond => (p, v) }
}
