package embedbench

/** A nearest-rank percentile together with the sample count behind it.
  * `beyond` is how many samples lie above the reported rank.
  */
final case class Pct(p: Double, value: Double, n: Int, beyond: Int) {

  /** The guide's rule: a tail percentile is reportable only when at least
    * ten samples lie beyond it.
    */
  def supported: Boolean = beyond >= 10
}

object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. `xs` must be non-empty.
    */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    val n = sorted.length
    val rank = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
    Pct(p, sorted(rank - 1), n, n - rank)
  }

  /** Smallest sample count for which the `p`th percentile has ten samples
    * beyond it (200 for p95).
    */
  def minSamples(p: Double): Int =
    Iterator.from(1).find(n => percentile(Seq.tabulate(n)(_.toDouble), p).supported).get

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
