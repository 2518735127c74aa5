package perfbench

/** A run's findings as plain values, rendered to JSON for run.py. */
object Report {

  def json(v: Any): String = v match {
    case null               => "null"
    case s: String          => graft.Json.str(s)
    case b: Boolean         => b.toString
    case d: Double          => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float           => json(f.toDouble)
    case n: Int             => n.toString
    case n: Long            => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${graft.Json.str(k.toString)}:${json(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_]    => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_]       => json(xs.toSeq)
    case o                  => graft.Json.str(o.toString)
  }
}

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  /** Nearest-rank percentile `p` (0 < p < 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  private val TailLevels = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest of the usual percentiles that still has at least 10
    * samples above it; below 20 samples, where even the median has fewer
    * than 10 above it, the maximum. Returns the percentile, its value and
    * the sample count it was taken over.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    TailLevels.find(p => n * (1 - p / 100.0) >= 10) match {
      case Some(p) => (p, percentile(xs, p), n)
      case None    => (100.0, xs.max, n)
    }
  }
}
