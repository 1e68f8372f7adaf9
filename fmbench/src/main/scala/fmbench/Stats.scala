package fmbench

/** Summary statistics and oracle scoring used by every workload. */
object Stats {

  /** Median; a failed op enters as +Inf. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the value, the percentile it sits at, and the sample count. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The highest percentile with at least `beyond` samples above it: the
    * (n - beyond)-th smallest sample, at percentile 100 (n - beyond) / n.
    * None when the run has too few samples; a max is never substituted. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val k = n - beyond
      Some(Tail(xs.sorted.apply(k - 1), 100.0 * k / n, n))
    }
  }

  final case class PairScore(recall: Double, precision: Double, missed: Int, extra: Int)

  /** Recall and precision of `found` against the oracle's `truth`. An empty
    * side scores 1.0: nothing to find, or nothing claimed. */
  def pairScore[T](found: Set[T], truth: Set[T]): PairScore = {
    val hit = found.count(truth)
    PairScore(
      recall = if (truth.isEmpty) 1.0 else hit.toDouble / truth.size,
      precision = if (found.isEmpty) 1.0 else hit.toDouble / found.size,
      missed = truth.size - hit,
      extra = found.size - hit)
  }

  /** Share of the keys of `want` whose value in `got` is equal. */
  def agreement[K, V](got: Map[K, V], want: Map[K, V]): Double =
    if (want.isEmpty) 1.0
    else want.count { case (k, v) => got.get(k).contains(v) }.toDouble / want.size
}
