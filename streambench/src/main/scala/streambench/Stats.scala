package streambench

/** Percentiles and the result line. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `q` in [0, 1]; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** p50 that reads 0 for no samples (a layer the workload never enters). */
  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample (the largest one below 11 samples). Returns the
    * value and the percentile it sits at. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val i = math.max(0, s.size - 11)
    (s(i), 100.0 * (i + 1) / s.size)
  }

  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
        .mkString("{", ", ", "}") + "}"

  def jsonObject(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      val rendered = v match {
        case d: Double => num(d)
        case n: Long => n.toString
        case n: Int => n.toString
        case b: Boolean => b.toString
        case other => str(other.toString)
      }
      s"${str(k)}: $rendered"
    }.mkString("{", ", ", "}")
}
