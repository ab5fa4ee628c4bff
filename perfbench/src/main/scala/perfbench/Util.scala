package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Median of whole-millisecond readings (Spark's progress durations),
    * treating each reading v as spread over [v - 0.5, v + 0.5): the
    * grouped-data median, in seconds. It keeps the sub-millisecond
    * information many tied readings carry, where the plain median would
    * snap to a whole millisecond.
    */
  def msMedianSeconds(ms: Seq[Long]): Double = {
    if (ms.isEmpty) return 0.0
    val counts = ms.groupMapReduce(identity)(_ => 1)(_ + _).toSeq.sortBy(_._1)
    val half = ms.size / 2.0
    var below = 0
    for ((v, c) <- counts) {
      if (below + c >= half) return (v - 0.5 + (half - below) / c) / 1e3
      below += c
    }
    counts.last._1 / 1e3
  }
}

/** The few JSON shapes the benchmark prints or writes. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ", ", "]")
}
