package graft.perfbench

/** Order statistics over one run's samples. */
object Stats {

  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten samples beyond it,
    * but never below p90: a run of a few dozen operations has no such
    * percentile above the median, and a percentile that moved with the
    * operation count would make runs incomparable. From 100 samples on
    * this is exactly the ten-beyond rule. */
  def tailPercentile(n: Int): Int =
    math.max(90, math.floor(100.0 * (1.0 - 10.0 / math.max(n, 1))).toInt)

  def tail(xs: Seq[Double]): (Double, Int) = {
    val p = tailPercentile(xs.size)
    (quantile(xs, p / 100.0), p)
  }
}

/** One reported metric: value, unit, the samples it summarizes and, for a
  * tail, the percentile it is. Only `gated` metrics enter the JSON result. */
final case class Metric(name: String, value: Double, unit: String,
                        samples: Int, note: String = "", gated: Boolean = true)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
