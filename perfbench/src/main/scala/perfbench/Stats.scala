package perfbench

import org.apache.commons.math3.special.Beta

/** Order statistics over per-op latencies. */
object Stats {

  /** The Harrell–Davis estimate of the `p`-quantile (0 < p < 1): a
    * weighted mean of all order statistics, the i-th of n weighted by the
    * mass a Beta((n + 1) p, (n + 1)(1 - p)) distribution puts on
    * ((i - 1) / n, i / n]. A run's timed ops are a few queries repeated over
    * passes, so its times come in clusters; a single order statistic then
    * jumps with whichever query's cluster it falls in, while this estimate
    * moves smoothly with all of them. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val w = weights(xs.size, p)
    xs.sorted.iterator.zip(w.iterator).map { case (x, wi) => x * wi }.sum
  }

  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Double), Array[Double]]()

  private def weights(n: Int, p: Double): Array[Double] = {
    require(p > 0 && p < 1, s"quantile position $p outside (0, 1)")
    weightCache.computeIfAbsent((n, p), _ => {
      val a = p * (n + 1)
      val b = (1 - p) * (n + 1)
      def cdf(i: Int) =
        if (i == 0) 0.0 else if (i == n) 1.0
        else Beta.regularizedBeta(i.toDouble / n, a, b)
      Array.tabulate(n)(i => cdf(i + 1) - cdf(i))
    })
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Number of samples strictly above the `p`-quantile: a percentile is
    * reported only when at least ten samples lie beyond it. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val q = quantile(xs, p)
    xs.count(_ > q)
  }
}
