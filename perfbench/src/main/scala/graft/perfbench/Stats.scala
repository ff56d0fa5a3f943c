package graft.perfbench

/** Order statistics for the benchmark's figures. */
object Stats {

  /** Percentile ladder the tail rule picks from, highest last. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 80.0, 85.0, 90.0, 95.0, 99.0, 99.9)

  /** Minimum number of samples that must lie beyond a reported tail
    * percentile: a p99 over 200 samples rests on two values and moves
    * with every outlier.
    */
  val MinBeyond = 10

  /** The highest ladder percentile with at least `MinBeyond` samples
    * strictly above its rank, or None when even p50 lacks them.
    */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => n * (1.0 - p / 100.0) >= MinBeyond - 1e-9).lastOption

  /** Linear-interpolation percentile (numpy's default, Python's
    * `statistics.quantiles(method="inclusive")`). Empty input is an error.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val r = (p / 100.0) * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Harrell–Davis percentile: a Beta-weighted mean of every order
    * statistic. The reported latency percentiles use it: when a sample
    * falls into clusters (one per query of a mix, say), a single order
    * statistic jumps between clusters from run to run, while this estimate
    * moves smoothly. Empty input is an error.
    */
  def hd(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 1) s.head
    else {
      val q = p / 100.0
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
      var prev = 0.0
      var acc = 0.0
      for (i <- 1 to n) {
        val c = beta.cumulativeProbability(i.toDouble / n)
        acc += (c - prev) * s(i - 1)
        prev = c
      }
      acc
    }
  }

  /** (percentile used, mean of the samples beyond it) under the tail rule:
    * the tail's expected shortfall, over at least `MinBeyond` samples. It
    * is the reported tail latency: in a query mix the tail percentile can
    * fall in the gap between the slow queries and the rest, while the mean
    * beyond it moves only as the slow executions do.
    */
  def tailMean(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size).getOrElse(
      throw new IllegalArgumentException(s"${xs.size} samples: too few for any tail percentile"))
    val beyond = xs.sorted.takeRight(math.floor(xs.size * (1.0 - p / 100.0) + 1e-9).toInt)
    (p, beyond.sum / beyond.size)
  }

  /** (percentile used, Harrell–Davis value) under the tail rule. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size).getOrElse(
      throw new IllegalArgumentException(s"${xs.size} samples: too few for any tail percentile"))
    (p, hd(xs, p))
  }
}
