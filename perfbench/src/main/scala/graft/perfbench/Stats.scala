package graft.perfbench

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`, reported only
    * when at least `MinBeyond` samples lie strictly above its rank;
    * otherwise `Left` says the sample is too small to carry it. */
  def percentile(xs: Seq[Double], p: Double): Either[String, Double] = {
    require(p > 0 && p < 1, s"percentile $p out of (0, 1)")
    val n = xs.size
    val rank = math.ceil(p * n).toInt.max(1) // 1-based nearest rank
    val beyond = n - rank
    if (n == 0 || beyond < MinBeyond)
      Left(s"too small: n=$n leaves $beyond of the required $MinBeyond samples beyond p${(p * 100).round}")
    else Right(xs.sorted.apply(rank - 1))
  }
}
