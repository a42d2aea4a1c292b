package perfbench

/** Order statistics and interval arithmetic behind the reported metrics. */
object Stats {

  /** Linear-interpolation percentile (the numpy default): `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail may be reported at, highest first: p99.9, then
    * every whole percentile from p99 down to the median. */
  val tailLadder: Seq[Double] = 99.9 +: (99 to 50 by -1).map(_.toDouble)

  /** Minimum number of samples strictly above a reported tail. */
  val tailSupport = 10

  /** The `.tail` statistic: the highest ladder percentile that has at least
    * `tailSupport` samples strictly above it. With too few samples for any
    * ladder rung (fewer than 20 samples) it falls back to the median, and
    * says so through the returned label. Returns (label, value), the label
    * like "p90".
    */
  def tail(xs: Seq[Double]): (String, Double) = {
    val chosen = tailLadder.find { p =>
      val v = percentile(xs, p)
      xs.count(_ > v) >= tailSupport
    }
    chosen match {
      case Some(p) => (label(p), percentile(xs, p))
      case None => (label(50) + "-fallback", median(xs))
    }
  }

  def label(p: Double): String =
    if (p == p.floor) s"p${p.toInt}" else s"p$p"

  /** Total length covered by a set of closed intervals (start, end), with
    * overlaps counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of the part of [s, e] that `intervals` cover. */
  def coveredWithin(s: Long, e: Long, intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
}
