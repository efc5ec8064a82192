package graftbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. No interpolation, so the
    * value is always one that was measured.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p / 100.0 * sorted.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples needed before the `p`th percentile has `beyond` samples
    * above it; fewer means the percentile is read off the last few
    * samples and is not reported.
    */
  def samplesFor(p: Double, beyond: Int = 10): Int =
    math.ceil(beyond / (1 - p / 100.0) - 1e-9).toInt
}
