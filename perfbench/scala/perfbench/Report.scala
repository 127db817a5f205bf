package perfbench

import scala.collection.mutable

/** Named metrics of one run, rendered as the JSON object the Python
  * runner reads. A timing keeps every sample: its value is the median,
  * and it also carries n and the highest standard percentile that has
  * at least ten samples beyond it.
  */
final class Report {
  private final case class Metric(value: Double, unit: String, n: Int, hi: Option[(String, Double)],
      samples: Seq[Double] = Nil)
  private val metrics = mutable.LinkedHashMap.empty[String, Metric]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = Metric(value, unit, n, None)

  def timing(name: String, samples: Seq[Double], unit: String): Unit =
    if (samples.nonEmpty) metrics(name) = Metric(Stats.median(samples), unit, samples.size,
      Stats.highPercentile(samples), samples)

  /** One attempted op; `ok = false` counts it as failed, with a reason. */
  def outcome(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  def json: String = {
    val ms = metrics.map { case (k, m) =>
      val hi = m.hi.map { case (p, v) => s""","$p":${Json.num(v)}""" }.getOrElse("")
      val xs = if (m.samples.isEmpty) "" else m.samples.map(Json.num).mkString(""","samples":[""", ",", "]")
      s"""${Json.str(k)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)},"n":${m.n}$hi$xs}"""
    }
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":[${failures.map(Json.str).mkString(",")}],""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest of p90/p99/p99.9 with at least ten samples above it. */
  def highPercentile(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99.9", 0.999), ("p99", 0.99), ("p90", 0.9))
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (p, q) => (p, quantile(xs, q)) }

  /** Least-squares slope of y against x (0 when x does not vary). */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val n = pts.size.toDouble
    if (n < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / n
      val my = pts.map(_._2).sum / n
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
    }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
