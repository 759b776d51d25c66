package perfbench

/** The benchmark's own arithmetic: medians, tail percentiles, interval
  * unions, gap share and span self time. Pure functions, unit-tested in
  * StatsSpec. Times are in any one unit (the callers use nanoseconds). */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank index (1-based) of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p <= 100.0, s"percentile out of range: $p")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** The highest of `candidates` that still leaves at least `minBeyond`
    * samples strictly above its rank among `n` samples; None when even the
    * lowest candidate does not. */
  def tailPercentile(n: Int, minBeyond: Int = 10,
                     candidates: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)): Option[Double] =
    candidates.filter(p => n - rank(n, p) >= minBeyond).maxOption

  /** Total length covered by a set of [start, end) intervals (overlaps
    * counted once). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** The intervals cut to the window [lo, hi). */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** Share of the window [start, end) during which no job interval was
    * running: wall time minus the union of the job intervals, over wall. */
  def gapShare(start: Long, end: Long, jobs: Seq[(Long, Long)]): Double =
    if (end <= start) 0.0
    else 1.0 - unionLength(clip(jobs, start, end)).toDouble / (end - start)

  /** A span's duration minus the part of it its child spans cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    math.max(0L, end - start) - unionLength(clip(children, start, end))
}
