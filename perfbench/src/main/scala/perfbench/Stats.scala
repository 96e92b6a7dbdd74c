package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (p / 100.0) * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99, 95, 90, 75)

  /** The tail of a sample: the highest percentile of [[TailLadder]] that has
    * at least ten samples beyond it, named as e.g. "p90". A sample too small
    * for even p75 (fewer than 40 values) reports its maximum, named "max". */
  def tail(xs: Seq[Double]): (String, Double) = {
    require(xs.nonEmpty, "tail of an empty sample")
    TailLadder.find(p => xs.length * (1 - p / 100) >= 10 - 1e-9) match {
      case Some(p) =>
        val name = if (p == p.floor) s"p${p.toInt}" else s"p$p"
        (name, percentile(xs, p))
      case None => ("max", xs.max)
    }
  }
}
