package perfbench

/** Order statistics and interval arithmetic the benchmark reports with. */
object Stats {

  /** Nearest-rank percentile `p` in (0, 1] of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 1, s"percentile must be in (0, 1]: $p")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p * sorted.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The percentiles a tail is reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(0.5, 0.9, 0.99, 0.999)

  /** The highest percentile of [[Ladder]] that leaves at least `beyond`
    * samples above it, or None when even the median does not. A tail read
    * off fewer samples than that is one stall, not a distribution.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter(p => n - math.ceil(p * n).toInt >= beyond).lastOption

  /** Total length covered by a set of [start, end) intervals, counting
    * overlapped stretches once.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Time inside [start, end) during which no Spark job ran: the window
    * minus the union of the job intervals clipped to it. Summing job
    * durations instead would count concurrent jobs twice and can exceed
    * the window.
    */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
