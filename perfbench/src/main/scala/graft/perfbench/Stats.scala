package graft.perfbench

/** Order statistics shared by the runner and its self-test. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The tail percentile of operation latency, reported per layer and
    * not gated: a run has 1-10 operations, so no percentile has ten
    * samples beyond it, and over ten runs of curation p90 spread 29%. */
  val TailQuantile = 0.90
}
