package graft.perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Nearest-rank percentile: the smallest sample that has at least a
    * share `p` of all samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile share must be in (0, 1], got $p")
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.size - 1e-9).toInt) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean of positive samples. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Number of samples strictly beyond the nearest-rank percentile `p`. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** The tail percentile a sample of `n` supports: the highest of
    * `candidates` that still has at least `minBeyond` samples beyond it,
    * so a reported tail is never one or two outliers. None when even the
    * lowest candidate does not qualify. With 100 samples this is p90
    * (10 beyond); with 1,000 it is p99. */
  def tailPercentile(n: Int, minBeyond: Int = 10,
      candidates: Seq[Double] = Seq(0.5, 0.9, 0.99, 0.999)): Option[Double] =
    candidates.sorted.filter(p => beyond(n, p) >= minBeyond).lastOption
}
