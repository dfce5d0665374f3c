package graft.perfbench

/** Order statistics and interval arithmetic the metrics are built from. */
object Stats {

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. A failed
    * operation enters as +Infinity, so it misses every latency limit. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(hi).isInfinite) s(hi)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail percentile a sample of `n` supports: the highest whole
    * percentile above the median with at least `beyond` samples strictly
    * above it (`n * (1 - p/100) >= beyond`), or None when even the
    * median's upper half is smaller than that. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 51 by -1).find(p => n * (100 - p) >= beyond * 100)

  /** Total length covered by the union of `[start, end)` intervals,
    * each clipped to `[lo, hi)`. */
  def unionLength(
      intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    covered
  }

  /** Driver gap of one operation: its wall time minus the time covered
    * by the union of its Spark job intervals. */
  def driverGap(
      opStart: Double, opEnd: Double, jobs: Seq[(Double, Double)]): Double =
    (opEnd - opStart) - unionLength(jobs, opStart, opEnd)
}
