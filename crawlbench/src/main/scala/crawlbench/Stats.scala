package crawlbench

/** Order statistics that always carry their sample count, so a median of
  * three rounds can never pass for a median of fifty. */
final case class Summary(value: Double, n: Int)

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method: q = 0 is the
    * minimum, q = 1 the maximum). Empty input is a caller bug. */
  def quantile(xs: Seq[Double], q: Double): Summary = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    Summary(s(lo) + (s(hi) - s(lo)) * (pos - lo), s.length)
  }

  def median(xs: Seq[Double]): Summary = quantile(xs, 0.5)
}
