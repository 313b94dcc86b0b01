package graft.perfbench

/** Order statistics for the benchmark's reports.
  *
  * `median` is the true median (mean of the two middle values for an
  * even count), `quartiles` follow Python's `statistics.quantiles(n=4)`
  * (the "exclusive" method), and `tail` picks the highest percentile
  * that still has at least ten samples beyond it, so a reported tail is
  * never a single outlier. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3) with Python's default `statistics.quantiles` method. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need two samples")
    val s = xs.sorted
    val n = s.length
    def at(i: Int): Double = {
      val j = i * (n + 1) / 4.0
      val lo = math.min(math.max(j.floor.toInt, 1), n - 1)
      val frac = j - lo
      s(lo - 1) + (s(lo) - s(lo - 1)) * frac
    }
    (at(1), at(2), at(3))
  }

  /** Linear-interpolated percentile `p` (0..100) of sorted samples. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val pos = p / 100.0 * (sorted.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  final case class Tail(pct: Double, value: Double, n: Int)

  /** The highest whole percentile, at most the 99th, with at least ten
    * samples beyond it. Below twenty samples only the median qualifies. */
  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted.toIndexedSeq
    val p = math.min(99.0, math.floor(100.0 * (1.0 - 10.0 / s.length)))
    if (p <= 50.0) Tail(50.0, median(s), s.length) else Tail(p, percentile(s, p), s.length)
  }
}
