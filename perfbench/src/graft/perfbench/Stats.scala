package graft.perfbench

/** Order statistics and entropy used by every workload's metrics. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Percentile `p` in [0, 100] by linear interpolation between closest
    * ranks (the "linear" method of numpy and R type 7). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    require(p >= 0.0 && p <= 100.0, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** Shannon entropy in bits of a histogram of counts. */
  def entropyBits(counts: Iterable[Long]): Double = {
    val n = counts.sum.toDouble
    if (n <= 0) 0.0
    else counts.filter(_ > 0).map { c =>
      val p = c / n
      -p * math.log(p) / math.log(2.0)
    }.sum
  }
}
