package graftbench

/** Order statistics for latency samples. A percentile is reported only
  * when at least [[MinBeyond]] samples lie beyond it, so a tail figure
  * always rests on more than a handful of observations. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`, or None when fewer
    * than [[MinBeyond]] samples lie strictly above its rank. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    val n = xs.size
    val rank = math.ceil(p / 100.0 * n).toInt // 1-based
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
