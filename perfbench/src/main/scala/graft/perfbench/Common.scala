package graft.perfbench

import org.apache.spark.sql.SparkSession

/** A named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One output check: what was compared, and whether it held. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload hands back: operation accounting, output checks, the
  * end-to-end metrics (every workload reports the same names), the
  * per-layer metrics of a traced run, the workload's own named figures for
  * the human-readable report, and how many units of work (passes, cycles)
  * the measured window held — per-layer figures are per unit. */
final case class Result(attempted: Long, failed: Long, checks: Seq[Check],
                        endToEnd: Seq[Metric], perLayer: Seq[Metric],
                        report: Seq[Metric], units: Int, notes: Seq[String] = Nil,
                        rows: Map[String, Long] = Map.empty,
                        queryMs: Map[String, Double] = Map.empty)

/** Everything a workload needs from the run. `sessionS` is the time the
  * Spark session took to start; each workload adds it to its set-up time. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     tracer: Tracer, probes: Option[Probes], work: String,
                     smoke: Boolean, sessionS: Double, cores: Int) {
  def rng(salt: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
}

object Stats {
  /** Linear-interpolated percentile (`q` in 0..100) of `xs`. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  def now(): Long = System.nanoTime()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process (all threads: program, Spark, JIT, GC), ns.
    * Unlike wall time it does not grow when a shared host steals cycles. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Run `f`, returning its value and its wall time in ms. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = now(); val a = f; (a, ms(t0, now()))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def metrics(ms: Seq[Metric]): String = ms.map(m =>
    s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    .mkString("{", ", ", "}")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  /** Parse a response body (the client side checks shapes with Jackson,
    * not with the program's own JSON code). */
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}
