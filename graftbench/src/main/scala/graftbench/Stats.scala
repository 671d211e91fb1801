package graftbench

/** Order statistics for the reported timings. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of the usual percentiles that has at least ten samples
    * beyond it: (percentile, value, sample count), or None when fewer than
    * twenty samples exist.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100), xs.size))

  /** median plus its tail, as a JSON object */
  def summary(xs: Seq[Double]): String = {
    val t = tail(xs)
    Json.obj(Seq(
      "p50" -> Json.num(median(xs)),
      "n" -> xs.size.toString,
      "tail_p" -> t.map(x => Json.num(x._1)).getOrElse("null"),
      "tail" -> t.map(x => Json.num(x._2)).getOrElse("null")))
  }
}
