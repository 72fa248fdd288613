package graftbench

object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; +Inf entries (failed ops) sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    if (lo == hi || s(hi) == s(lo)) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples). None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted.toIndexedSeq
      val idx = s.length - 11
      Some((s(idx), 100.0 * (idx + 1) / s.length, s.length))
    }

  /** Step latencies, a failed step counting as missing every limit. */
  def latencies(steps: Seq[Step]): Seq[Double] =
    steps.map(s => if (s.ok) s.seconds else Double.PositiveInfinity)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Top-k recall against exact counts, tie-aware: a reported item is a hit
    * when its exact count reaches the exact k-th largest count. */
  def recallAtK(reported: Seq[String], exact: collection.Map[String, Long], k: Int): Double = {
    val counts = exact.values.toSeq.sorted(Ordering[Long].reverse)
    if (counts.isEmpty) return 1.0
    val kth = counts(math.min(k, counts.length) - 1)
    val want = math.min(k, counts.length)
    reported.take(k).count(it => exact.getOrElse(it, 0L) >= kth).toDouble / want
  }
}
