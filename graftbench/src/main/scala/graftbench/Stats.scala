package graftbench

/** Order statistics and ratio arithmetic shared by every workload. */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 1]) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean of positive values; NaN when empty. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.iterator.map(math.log).sum / xs.size)

  /** The reporting rule for tail latencies: a percentile is reported only
    * when at least `MinBeyond` samples lie beyond it, so a p90 needs 100
    * samples and a p99 needs 1000. */
  val MinBeyond = 10

  def supportsPercentile(n: Int, q: Double): Boolean =
    n > 0 && math.floor(n * (1.0 - q) + 1e-9) >= MinBeyond

  /** The highest of `candidates` the sample supports, if any. */
  def highestSupported(n: Int, candidates: Seq[Double] = Seq(0.99, 0.9)): Option[Double] =
    candidates.sorted.reverse.find(supportsPercentile(n, _))

  /** `num / den`, or `empty` when the base is zero (a ratio is always
    * reported with its base, so a zero base is a distinct outcome). */
  def ratio(num: Double, den: Double, empty: Double = 0.0): Double =
    if (den == 0) empty else num / den

  /** Coalescer fan-in: acknowledged mutation requests over the number of
    * store mutations they caused (the change in `BucketStore.dataVersion`).
    * 1.0 means no folding; 4.0 means four requests shared each job. */
  def fanIn(ackedRequests: Long, versionBefore: Long, versionAfter: Long): Double =
    ratio(ackedRequests.toDouble, (versionAfter - versionBefore).toDouble)
}
