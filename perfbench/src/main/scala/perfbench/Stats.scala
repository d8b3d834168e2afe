package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear-interpolated percentile `p` (0–100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100d * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of `candidates` that has at least ten samples beyond it
    * among `n`, so a reported tail always rests on ten or more readings.
    */
  def tailPercentile(n: Int,
      candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)): Option[Double] =
    candidates.find(p => n * (100d - p) / 100d >= 10d - 1e-9)

  /** "95" for 95.0, "99.9" for 99.9: the suffix of a percentile's name. */
  def label(p: Double): String = if (p == p.floor) p.toLong.toString else p.toString
}
