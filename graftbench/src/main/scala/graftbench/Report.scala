package graftbench

import scala.collection.mutable

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
}

object Stats {
  /** Nearest-rank percentile (p in [0, 1]). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What one run measured: the end-to-end and per-layer metrics named in
  * BENCHMARK.json, the figures printed by name, unit and sample count, and
  * the count of attempted and failed operations. */
final class Report(val workload: String) {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  private val lines = mutable.ArrayBuffer[String]()
  private val failures = mutable.ArrayBuffer[String]()
  private var attemptedOps = 0L
  private var failedOps = 0L

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
  def figure(name: String, value: Double, unit: String, note: String = ""): Unit =
    lines += f"METRIC $name%-44s ${Json.num(value)}%s $unit${if (note.isEmpty) "" else s"  ($note)"}"
  def info(s: String): Unit = lines += s"INFO $s"

  /** Counts one attempted operation; a false `ok` counts it failed. */
  def op(ok: Boolean, what: => String = ""): Unit = synchronized {
    attemptedOps += 1
    if (!ok) { failedOps += 1; if (failures.size < 20) failures += what }
  }
  /** A correctness check outside the timed windows: counted as an
    * operation, and printed with its verdict. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    op(ok, s"check $name: $detail")
    lines += s"CHECK ${if (ok) "PASS" else "FAIL"} $name${if (detail.isEmpty) "" else s" — $detail"}"
  }

  def attempted: Long = synchronized(attemptedOps)
  def failed: Long = synchronized(failedOps)
  def correct: Boolean = failed == 0L

  /** Prints the figures and checks, then one `RESULT_JSON` line holding
    * the verdict and both metric sets; run.py turns it into the final
    * result line. */
  def print(traced: Boolean): Unit = {
    lines.foreach(println)
    failures.foreach(f => println(s"FAILURE $f"))
    println(f"METRIC ${"failed_frac"}%-44s ${if (attempted > 0) failed.toDouble / attempted else 0.0} ratio" +
      s"  ($failed of $attempted operations)")
    def obj(ms: collection.Map[String, (Double, String)]) = ms.map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString("{", ", ", "}")
    println(s"""RESULT_JSON {"workload": ${Json.str(workload)}, "traced": $traced, """ +
      s""""correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""end_to_end": ${obj(endToEnd)}, "per_layer": ${obj(perLayer)}}""")
  }
}
