package raptorbench

/** Order statistics the benchmark reports. Quartiles follow Python's
  * `statistics.quantiles(xs, n=4)` (the "exclusive" method) so the figures
  * printed here match the spread check made over a set of runs. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Cut points dividing `xs` into `n` equal-probability groups. */
  def quantiles(xs: Seq[Double], n: Int): Seq[Double] = {
    require(xs.size >= 2 && n >= 2, s"quantiles need >= 2 samples, got ${xs.size}")
    val s = xs.sorted
    val ld = s.size
    val m = ld + 1
    (1 until n).map { i =>
      val j = math.min(math.max(i * m / n, 1), ld - 1)
      val delta = i * m - j * n
      (s(j - 1) * (n - delta) + s(j) * delta) / n
    }
  }

  /** Samples that lie beyond percentile `p` among `n`. */
  def beyond(n: Int, p: Int): Int = n * (100 - p) / 100

  /** The highest of p99, p90, p75 and p50 with at least ten of `n`
    * samples beyond it: the tail percentile a run of `n` samples may
    * report. */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 90, 75, 50).find(p => beyond(n, p) >= 10)
}
