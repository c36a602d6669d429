package graft.perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point: runs one workload and writes its result as one
  * JSON object to `--out`. `run.py` builds this harness and launches it.
  *
  * {{{
  * Main --workload <analytics_suite|platform_mixed|etl_ingest> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <file> [--smoke]
  * }}}
  * `--work` must be an empty directory: the run's inputs, warehouse,
  * catalog and databases live there. The Spark session's warehouse and
  * local dirs are set by the launcher (system properties). */
object Main {
  /** The program's layers, as spans name them. */
  private val layers =
    Seq("core", "catalog", "sqlx", "sources", "sched", "alerts", "serve", "query")

  def main(argv: Array[String]): Unit = {
    val smoke = argv.contains("--smoke")
    val opts = argv.filterNot(_ == "--smoke").sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    // the reference served with 4 threads; more cores would make runs on
    // bigger machines incomparable
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val (spark, sessionMs) = Stats.timed {
      val s = graft.core.GraftSession.local(cores)
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    try {
      val tracer = new Tracer(trace)
      val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, tracer,
        if (trace) Some(new Probes(spark)) else None, opt("work"), smoke,
        sessionMs / 1000, cores)
      val result = workload match {
        case "analytics_suite" => Analytics.run(ctx)
        case "platform_mixed" => Platform.run(ctx)
        case "etl_ingest" => Etl.run(ctx)
        case other => sys.error(s"unknown workload '$other'")
      }
      val selfMs = if (trace) {
        tracer.write(Paths.get(opt("work"), "spans.jsonl"))
        val self = tracer.selfMsByLayer
        layers.map(l => Metric(s"self_ms.$l", self.getOrElse(l, 0.0) / result.units, "ms"))
      } else Nil
      val json =
        s"""{"workload": ${Json.str(workload)}, "attempted": ${result.attempted}, """ +
        s""""failed": ${result.failed}, "checks": [""" +
        result.checks.map(c => s"""{"name": ${Json.str(c.name)}, "ok": ${c.ok}, """ +
          s""""detail": ${Json.str(c.detail)}}""").mkString(", ") + "], " +
        s""""end_to_end": ${Json.metrics(result.endToEnd)}, """ +
        s""""per_layer": ${Json.metrics(result.perLayer ++ selfMs)}, """ +
        s""""report": ${Json.metrics(result.report)}, """ +
        s""""rows": ${result.rows.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: $v" }
          .mkString("{", ", ", "}")}, """ +
        s""""query_ms": ${result.queryMs.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
          .mkString("{", ", ", "}")}, """ +
        s""""notes": ${result.notes.map(Json.str).mkString("[", ", ", "]")}}"""
      Files.writeString(Paths.get(opt("out")), json)
    } finally {
      graft.core.Mat.releaseAllScopes(blocking = true)
      spark.stop()
    }
  }
}
