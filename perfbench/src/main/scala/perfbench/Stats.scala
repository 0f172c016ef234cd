package perfbench

/** Order statistics used by the report. Every helper takes raw samples. */
object Stats {

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** A nearest-rank percentile together with the evidence behind it. */
  final case class Tail(percentile: Int, value: Double, beyond: Int, samples: Int)

  /** The highest whole percentile (50 to 99) whose nearest-rank value still
    * has at least `minBeyond` samples strictly above its rank. A tail read
    * from fewer samples is one or two outliers, not a percentile, so there
    * is no tail at all below `2 * minBeyond` samples. */
  def tail(xs: Iterable[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    (99 to 50 by -1).iterator.map { p =>
      val rank = (p * n + 99) / 100 // 1-based nearest rank, ceil(p·n/100)
      (p, rank, n - rank)
    }.collectFirst {
      case (p, rank, beyond) if rank >= 1 && beyond >= minBeyond =>
        Tail(p, s(rank - 1), beyond, n)
    }
  }
}
