package graft.perfbench

/** Order statistics for reported timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `q` (0 < q <= 100) of the samples. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    // the epsilon keeps q·n that is whole in exact arithmetic from rounding up
    s(math.max(0, math.ceil(q * s.length / 100.0 - 1e-9).toInt - 1))
  }

  private val TailLevels = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it, as (percentile, value); None with fewer than 20
    * samples, where even the median has fewer than ten above it.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLevels.find(q => xs.length * (100.0 - q) / 100.0 >= 10.0 - 1e-9)
      .map(q => q -> percentile(xs, q))

  /** Length of the union of closed intervals `(start, end)` clipped to `[lo, hi]`. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
