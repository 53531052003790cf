package perfbench

/** Small numeric and JSON helpers shared by the workloads. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length of the union of [start, end) intervals, clipped to [lo, hi). */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite double as a JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}
