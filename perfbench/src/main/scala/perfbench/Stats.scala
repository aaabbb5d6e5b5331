package perfbench

/** Summary rules the benchmark reports with, and the metric record. */
object Stats {

  /** Value at quantile q by linear interpolation between order statistics
    * (Python's statistics.quantiles "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles the tail rule may report, highest first. */
  val TailLadder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** A timing summary: the median, plus the highest percentile of the
    * ladder that has at least ten samples beyond it (None when even p50 has
    * fewer), plus the sample count. */
  final case class Summary(p50: Double, tail: Option[(Int, Double)], n: Int) {
    def describe(unit: String): String =
      f"p50=$p50%.4f $unit" + tail.filter(_._1 > 50).fold("")(t => f" p${t._1}=${t._2}%.4f $unit") +
        s" n=$n"
  }

  def summarize(xs: Seq[Double]): Summary = {
    val n = xs.size
    val tail = TailLadder.find(p => n * (100 - p) / 100.0 >= 10.0)
      .map(p => p -> quantile(xs, p / 100.0))
    Summary(median(xs), tail, n)
  }

  private val NameRe = "[A-Za-z0-9_.-]+".r

  /** Metric names are made of letters, digits, '_', '.' and '-', start with
    * a letter or digit, and have at most 64 characters. */
  def validName(name: String): Boolean =
    name.nonEmpty && name.length <= 64 && NameRe.matches(name) && name.head.isLetterOrDigit

  final case class Metric(name: String, value: Double, unit: String) {
    require(validName(name), s"invalid metric name '$name'")
  }

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
