package graftbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail quantile reported as `p90`: the highest of p90 and lower
    * quantiles that still has at least ten samples beyond it, never below
    * the median. Returns (value, quantile used).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = if (xs.isEmpty) 0.5 else (1.0 - 10.0 / xs.size).min(0.9).max(0.5)
    (quantile(xs, q), q)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0.0" else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + esc(k.toString) + "\":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
}

/** Named metrics in insertion order, each with its unit. */
final class MetricSet {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def toJsonMap: collection.Map[String, Any] =
    m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }
  def lines: Seq[String] = m.toSeq.map { case (k, (v, u)) => f"  $k%-38s ${Json.num(v)}%s $u" }
}
