package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Quartiles by the "exclusive" method, the same numbers Python's
    * `statistics.quantiles(values, n=4)` gives, so a spread computed
    * here matches one computed from the printed samples. A single
    * sample is its own quartiles.
    */
  def quartiles(values: Seq[Double]): (Double, Double, Double) = {
    require(values.nonEmpty, "quartiles of an empty sample")
    val d = values.sorted.toIndexedSeq
    val ld = d.length
    if (ld == 1) return (d(0), d(0), d(0))
    val n = 4
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / n, 1), ld - 1)
      val delta = i * m - j * n
      (d(j - 1) * (n - delta) + d(j) * delta) / n
    }
    (cut(1), cut(2), cut(3))
  }

  /** Median: the middle value, or the mean of the two middle values. */
  def median(values: Seq[Double]): Double = {
    require(values.nonEmpty, "median of an empty sample")
    val d = values.sorted.toIndexedSeq
    val mid = d.length / 2
    if (d.length % 2 == 1) d(mid) else (d(mid - 1) + d(mid)) / 2
  }

  /** The best pass: each query's fastest time over `passes` (query →
    * seconds, one map per pass, every pass running every query), summed.
    * Host contention only ever adds time, and it comes and goes within a
    * run, so a query's fastest run is its steadiest figure; the sum reads
    * as the time of a pass in which every query ran at its best.
    */
  def bestPass(passes: Seq[Map[String, Double]]): Double = {
    require(passes.nonEmpty, "best pass of no passes")
    passes.head.keys.toSeq.map(q => passes.map(_(q)).min).sum
  }
}
