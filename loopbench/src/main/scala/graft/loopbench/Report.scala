package graft.loopbench

import scala.collection.mutable

/** What one run hands back to `run.py`: metrics with units and sample
  * counts, correctness checks, and operation counts. Written as JSON by
  * hand (no JSON library on the engine's classpath is part of its API). */
final class Report {
  final case class Metric(value: Double, unit: String, samples: Long)

  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val notes = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var spans = "[]"
  /** A dumped analytics pass for tools/selfcheck.py: (out dir, tables dir,
    * queries dumped). */
  var selfcheck: Option[(String, String, Int)] = None
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, value: Double, unit: String, samples: Long): Unit =
    endToEnd(name) = Metric(value, unit, samples)
  def layer(name: String, value: Double, unit: String, samples: Long = 1): Unit =
    layers(name) = Metric(value, unit, samples)
  def note(name: String, value: Any): Unit = notes(name) = value.toString

  private def jitMs = java.lang.management.ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime
  private var phaseStart = System.nanoTime()
  private var phaseJit = jitMs
  /** Close the current phase of the run: note its wall time and the JIT
    * compile time spent meanwhile (compiler threads share the cores). */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    val jit = jitMs
    note(s"phase_${name}_s", f"${(now - phaseStart) / 1e9}%.3f (jit ${(jit - phaseJit) / 1e3}%.1f s)")
    phaseStart = now
    phaseJit = jit
  }
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  def correct: Boolean = checks.forall(_._2) && failed == 0

  private def str(s: String): String = Json.str(s)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def metrics(m: mutable.LinkedHashMap[String, Metric]): String =
    m.map { case (k, v) =>
      s"${str(k)}: {\"value\": ${num(v.value)}, \"unit\": ${str(v.unit)}, \"samples\": ${v.samples}}"
    }.mkString("{", ", ", "}")

  def json: String = {
    val cs = checks.map { case (n, ok, d) =>
      s"{\"name\": ${str(n)}, \"ok\": $ok, \"detail\": ${str(d)}}"
    }.mkString("[", ", ", "]")
    val ns = notes.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    val sc = selfcheck.fold("null") { case (out, sf, n) =>
      s"{\"out\": ${str(out)}, \"sf\": ${str(sf)}, \"queries\": $n}"
    }
    s"{\"attempted\": $attempted, \"failed\": $failed, \"correct\": $correct, " +
      s"\"selfcheck\": $sc, " +
      s"\"end_to_end\": ${metrics(endToEnd)}, \"per_layer\": ${metrics(layers)}, " +
      s"\"checks\": $cs, \"notes\": $ns, \"spans\": $spans}"
  }
}

object Json {
  /** A JSON string literal. */
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
