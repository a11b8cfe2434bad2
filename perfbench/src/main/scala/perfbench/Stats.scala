package perfbench

/** Order statistics for op latencies. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of a non-empty sample,
    * the same rule as numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside 0..100")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile that leaves at least `beyond` samples
    * above it, as (label, value). A sample too small for even the median
    * to qualify reports its maximum, labelled "max". */
  def tail(xs: Seq[Double], beyond: Int = 10): (String, Double) =
    Ladder.find(p => xs.size * (100 - p) / 100.0 >= beyond - 1e-9) match {
      case Some(p) => (label(p), percentile(xs, p))
      case None => ("max", xs.max)
    }

  private def label(p: Double): String =
    if (p == math.rint(p)) s"p${p.toInt}" else s"p$p"
}
