package perfbench

/** Percentiles over a run's samples. */
object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** JSON for the bench's own output lines. The engine's `Json.write` is a
  * layer under measurement, so the result format does not depend on it.
  */
object Out {
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case Raw(s) => s
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }

  final case class Raw(json: String)

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
