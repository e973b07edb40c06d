package graft.perfbench

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size - 1e-9).toInt - 1))
  }

  /** A tail percentile: its value, the percentile it sits at, and how many
    * samples lie beyond its rank. */
  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int)

  /** The highest percentile (one decimal, at most p99.9) that still has at
    * least `minBeyond` samples ranked beyond it. With n samples the
    * nearest rank of p is ceil(p·n/100), so the rule is
    * ceil(p·n/100) ≤ n − minBeyond. With too few samples for any
    * percentile to qualify, the maximum is reported as p100 with nothing
    * beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.size
    if (n <= minBeyond) Tail(100.0, xs.max, 0, n)
    else {
      val candidates = (999 to 1 by -1).iterator.map(_ / 10.0)
      val p = candidates.find(p => math.ceil(p * n / 100.0 - 1e-9).toInt <= n - minBeyond).get
      val rank = math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)
      Tail(p, xs.sorted.apply(rank - 1), n - rank, n)
    }
  }
}
