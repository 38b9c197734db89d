package perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = mean(pts.map(_._1))
      val my = mean(pts.map(_._2))
      val num = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (den == 0) 0.0 else num / den
    }
}

/** What one run reports: operations attempted and failed, named metric
  * values, and the human-readable lines printed before the result.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, Double]

  /** Record a metric; its unit is declared in BENCHMARK.json. */
  def metric(name: String, value: Double): Unit = metrics(name) = value
  def value(name: String): Double = metrics(name)

  def line(s: String): Unit = println(s)

  /** Record one check; a failed check is a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; line(s"CHECK FAILED: $what") }
  }

  /** Record a timing with its sample count, next to the counters that
    * carry across machines. */
  def timing(label: String, value: Double, unit: String, n: Int,
      counters: String): Unit =
    line(f"$label%-28s $value%12.3f $unit%-4s n=$n%-6d $counters")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Attempted and failed operations and every metric value; run.py
    * attaches the units. */
  def resultJson: String =
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v) => s""""$k":${num(v)}""" }
        .mkString(",") + "}}"
}
