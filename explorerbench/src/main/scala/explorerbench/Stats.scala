package explorerbench

/** Order statistics over a sample. */
object Stats {

  /** Nearest-rank percentile `p` in (0, 100] of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, rank(p, s.size) - 1)))
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  private def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.5, 99, 98, 95, 90, 80, 75, 50)

  /** Samples a tail percentile must leave beyond its rank. */
  val TailBeyond = 10

  /** The tail of a sample: the highest ladder percentile with at least
    * [[TailBeyond]] samples strictly above its rank. Returns (percentile,
    * value), or None when even the median has fewer samples beyond it.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLadder.find(p => xs.size - rank(p, xs.size) >= TailBeyond)
      .map(p => p -> percentile(xs, p))
}
