package graftbench

/** The benchmark's arithmetic: percentiles and quantile estimates that
  * carry their sample count, and the self time of a span (its duration minus the part of
  * its interval that child spans cover). */
object Stats {

  /** A percentile together with the number of samples it was taken
    * from and how many samples lie strictly above it. */
  final case class Pct(value: Double, samples: Int, beyond: Int)

  /** The `p`-th percentile (0 ≤ p ≤ 1) by linear interpolation between
    * the two closest ranks: rank h = (n − 1)·p over the sorted samples
    * (numpy's default). An empty sample has no percentile. */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile rank $p outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    val v = s(lo) + (h - lo) * (s(hi) - s(lo))
    Pct(v, s.size, s.count(_ > v))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5).value

  /** The Harrell–Davis estimate of the `p`-th quantile (0 < p < 1): a
    * weighted mean of all order statistics, the i-th of n (1-based)
    * weighted by I(i/n) − I((i − 1)/n), where I is the regularized
    * incomplete beta function with a = (n + 1)·p, b = (n + 1)·(1 − p).
    * It draws on every sample, not only the one or two ranks next to p,
    * so from run to run it moves less than [[percentile]]. */
  def hdQuantile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(p > 0.0 && p < 1.0, s"quantile rank $p outside (0, 1)")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    val a = (n + 1) * p
    val b = (n + 1) * (1 - p)
    def cdf(x: Double) =
      if (x <= 0.0) 0.0 else if (x >= 1.0) 1.0
      else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    val w = (0 to n).map(i => cdf(i.toDouble / n))
    val v = (0 until n).map(i => (w(i + 1) - w(i)) * s(i)).sum
    Pct(v, n, s.count(_ > v))
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of half-open intervals [start, end),
    * each clipped to the window [lo, hi). Overlapping and nested
    * intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of the span [start, end): its duration minus the union
    * of its children's intervals inside it. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children, start, end)

  /** x ÷ y, or 0 when nothing was measured (y = 0). */
  def ratio(x: Double, y: Double): Double = if (y == 0.0) 0.0 else x / y
}
