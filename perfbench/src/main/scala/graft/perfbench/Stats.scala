package graft.perfbench

/** Order statistics used by every metric the benchmark reports. */
object Stats {

  /** Percentile `p` (0..100) by linear interpolation between closest
    * ranks (numpy's default, "type 7"). Empty input is an error. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
