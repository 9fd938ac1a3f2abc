package perfbench

/** Order statistics and interval arithmetic used by every metric. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail value with the percentile it stands for and the sample count. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The highest percentile that still has at least `beyond` samples above
    * it: the (n - beyond)-th smallest value, which is the `100·(n-beyond)/n`
    * percentile. Undefined below `beyond + 1` samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n))
    }
  }

  /** Total length covered by the union of half-open `[start, end)`
    * intervals, each first clipped to `[lo, hi)`. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Time a span spent on the driver: its wall time minus the part of it
    * during which at least one of its jobs was running. */
  def driverMs(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs, start, end)
}
