package graftbench

/** Order statistics and the reporting rules the harness applies. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A p90 is reported only when at least 10 samples lie beyond it. */
  def p90Reportable(n: Int): Boolean = n - math.ceil(0.9 * n).toInt >= 10

  val MetricName = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(s: String): Boolean = MetricName.matches(s)

  /** Ops that threw or failed a check, as a share of ops attempted. */
  def failedRatio(attempted: Int, failed: Set[Int]): Double = {
    require(attempted >= 1, "no op attempted")
    require(failed.forall(i => i >= 0 && i < attempted), s"failed op outside 0 until $attempted")
    failed.size.toDouble / attempted
  }
}
