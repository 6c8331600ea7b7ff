package perfbench

/** Order statistics for latency samples. Percentiles are nearest-rank:
  * the p-th percentile of n sorted samples is the one at rank
  * ceil(p/100 · n), so "samples beyond it" is n minus that rank.
  */
object Stats {

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** A tail percentile is only reported when at least this many samples
    * lie beyond it; a higher percentile over fewer samples is one or two
    * outliers, not a tail.
    */
  val MinBeyond = 10

  def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The highest percentile in [[TailLadder]] with at least [[MinBeyond]]
    * samples beyond it, if any.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => n - rank(p, n) >= MinBeyond)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Summary of one latency series for the run record. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any]("samples" -> xs.size)
    if (xs.isEmpty) base
    else {
      val tail = tailPercentile(xs.size)
      base ++ Map("p50" -> median(xs), "max" -> xs.max, "mean" -> mean(xs)) ++
        tail.map(p => Map("tail_pct" -> p, "tail" -> percentile(xs, p))).getOrElse(Map.empty)
    }
  }
}
