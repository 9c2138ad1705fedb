package graftbench

/** Order statistics over a sample of measurements. */
object Stats {
  /** Linear-interpolated percentile `p` (0..100) of `xs`; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  /** The tail a sample can support: the highest whole percentile that still
    * has at least `beyond` samples strictly above its rank, with its value
    * and the sample count. None when the sample has too few points. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double, Int)] = {
    val n = xs.length
    val ps = (99 to 1 by -1).filter(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
    ps.headOption.map(p => (p, pct(xs, p), n))
  }
}
