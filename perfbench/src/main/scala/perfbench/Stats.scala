package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentile level actually reported for `target` over `n` samples:
    * `target` itself when at least `beyond` samples lie above its
    * nearest-rank position, otherwise the highest level that leaves
    * `beyond` samples above it, but never below the median (0.5).
    */
  def tailLevel(n: Int, target: Double = 0.9, beyond: Int = 10): Double = {
    val rank = math.max(1, math.ceil(target * n - 1e-9).toInt)
    if (n - rank >= beyond) target
    else math.max(0.5, (n - beyond).toDouble / n)
  }

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `level` of all samples at or below it.
    */
  def percentile(xs: Seq[Double], level: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size, math.max(1, math.ceil(level * s.size - 1e-9).toInt)) - 1)
  }
}
