package perfbench

/** Order statistics for timing samples. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The `q` quantile, reported only when at least `minBeyond` samples lie
    * strictly above it; a tail percentile resting on fewer samples says
    * more about the sample than about the system. */
  def tail(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, q)
      if (xs.count(_ > v) >= minBeyond) Some(v) else None
    }
}
