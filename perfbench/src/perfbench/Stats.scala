package perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {

  /** Samples a percentile must have strictly above it before it is
    * reported: with fewer, the "p90" of a run is really its maximum.
    */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Linear-interpolated percentile `p` in (50, 100), refused (None) unless
    * at least `MinBeyond` samples lie beyond it, i.e. n·(1 − p/100) ≥ 10.
    * The median has its own helper: it is reported from any sample count.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 50 && p < 100, s"tail percentile expected, got $p")
    val n = xs.length
    if (n * (1 - p / 100) < MinBeyond - 1e-9) None
    else {
      val s = xs.sorted
      val pos = (n - 1) * p / 100
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, n - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }
  }
}
