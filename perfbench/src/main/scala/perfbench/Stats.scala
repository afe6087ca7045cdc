package perfbench

/** The benchmark's own statistics: medians, the tail rule, and span self
  * time. Pure functions, covered by StatsSpec. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail figure: the value, the percentile it sits at, and the sample
    * count it came from. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** Samples that must lie above the reported tail value. */
  val TailBeyond = 10

  /** The highest percentile that still has at least [[TailBeyond]]
    * samples beyond it: the (n − 10)-th smallest sample, at percentile
    * 100·(n − 10)/n. None below 20 samples, where that percentile would
    * fall under the median. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    if (n < 2 * TailBeyond) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, n))
    }
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Clip intervals to [start, end). */
  def clip(intervals: Seq[(Long, Long)], start: Long, end: Long): Seq[(Long, Long)] =
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }

  /** Self time of a span: its duration minus the part of it that its
    * children cover (children may overlap each other or stick out). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(clip(children, start, end))
}
