package perfbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the trace. Pure functions over plain numbers, so the rules the report
  * depends on (which percentile may be quoted, how self time is taken)
  * are unit-tested on their own.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `q` of
    * the samples at or below it.
    */
  def nearestRank(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"quantile $q outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  /** The `q` percentile, or None when fewer than `minBeyond` samples lie
    * strictly above it: a tail quoted from fewer samples is one outlier.
    */
  def tailPercentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else {
      val p = nearestRank(xs, q)
      if (xs.count(_ > p) >= minBeyond) Some(p) else None
    }

  /** Total length covered by a set of half-open intervals [start, end). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (children are clipped to the span; overlapping
    * children count once).
    */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    math.max(0L, e - s) - covered(clipped)
  }

  /** Time-weighted mean number of intervals in flight while at least one
    * is: the sum of durations over the covered length.
    */
  def meanInFlight(intervals: Seq[(Long, Long)]): Double = {
    val c = covered(intervals)
    if (c == 0) 0.0 else intervals.map { case (s, e) => math.max(0L, e - s) }.sum.toDouble / c
  }
}
