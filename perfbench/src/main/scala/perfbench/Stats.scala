package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A tail summary: the percentile reported, its value, and the sample
    * count it rests on. */
  final case class Tail(pct: Double, value: Double, n: Int)

  val TailCandidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** The highest candidate percentile that still has at least
    * `beyond` samples above it (a p99 of 50 samples is one sample, not
    * a percentile). Falls back to the median when even that is not
    * supported, so the caller always gets a number plus its `n`. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    val n = xs.size
    val pct = TailCandidates
      .find(p => n * (100 - p) / 100.0 >= beyond - 1e-9).getOrElse(50.0)
    Tail(pct, percentile(xs, pct), n)
  }

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Driver-only time of a window: its wall time minus the part any
    * Spark job was running in it (job intervals clipped to the window,
    * overlaps counted once). */
  def driverOnlyMs(windowStart: Long, windowEnd: Long,
      jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) =>
      (math.max(s, windowStart), math.min(e, windowEnd))
    }
    (windowEnd - windowStart) - unionLength(clipped)
  }
}
