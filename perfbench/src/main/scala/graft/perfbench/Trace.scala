package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is the id of the enclosing span on
  * the same thread (0 for a root); `trace` groups the spans of one
  * operation (a query, a request, a cycle). */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
                      layer: String, startNs: Long, endNs: Long)

/** Span recorder. Spans are placed by the harness around its calls into
  * the program's layers; nothing inside the program is instrumented. When
  * disabled, [[span]] is a plain call. Spans stay in memory and are written
  * once, at the end of the run. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Start a new trace (one operation) on this thread and run `f` in it. */
  def trace[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val saved = stack.get()
      stack.set(Nil)
      try span(name, layer)(f) finally stack.set(saved)
    }

  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (trace, parent) = outer.headOption.getOrElse((id, 0L))
      stack.set((trace, id) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, trace, parent, name, layer, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  @volatile private var measuredFrom = Long.MinValue
  /** Start of the measured window: self times count spans from here on. */
  def mark(): Unit = measuredFrom = System.nanoTime()

  /** Self time per layer over the measured window, ms: each span's
    * duration minus the part its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val s = all.filter(_.startNs >= measuredFrom)
    val childNs = s.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    s.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(x => (x.endNs - x.startNs - childNs.getOrElse(x.id, 0L)) / 1e6).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { x =>
      s"""{"id":${x.id},"trace":${x.trace},"parent":${x.parent},""" +
        s""""name":${Json.str(x.name)},"layer":"${x.layer}",""" +
        s""""start_ns":${x.startNs},"end_ns":${x.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** A Spark job as the listener saw it start. */
final case class Job(id: Int, timeMs: Long, pool: String, stages: Int)

/** Spark runtime counters, collected by a listener the harness registers.
  * Jobs are kept with their submission time and scheduler pool so a caller
  * can attribute them to the operation that was running at the time. */
final class SparkStats extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks, taskRunMs, schedDelayMs, shuffleRead, shuffleWrite, spill = new LongAdder
  private val stagePool = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val poolRunMs = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  private def poolOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
      .getOrElse("default")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val pool = poolOf(e.properties)
    e.stageIds.foreach(stagePool.put(_, pool))
    jobs.add(Job(e.jobId, e.time, pool, e.stageInfos.size))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      tasks.increment()
      taskRunMs.add(m.executorRunTime)
      schedDelayMs.add(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      val pool = stagePool.getOrDefault(e.stageId, "default")
      poolRunMs.computeIfAbsent(pool, _ => new LongAdder).add(m.executorRunTime)
    }
  }
}

/** Micro-batch durations of every streaming query in the session. */
final class StreamStats extends StreamingQueryListener {
  val batchMs = new ConcurrentLinkedQueue[java.lang.Long]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    batchMs.add(e.progress.batchDuration)
}

/** The listeners of one traced run. */
final class Probes(spark: SparkSession) {
  val sparkStats = new SparkStats
  val streams = new StreamStats
  spark.sparkContext.addSparkListener(sparkStats)
  spark.streams.addListener(streams)

  /** Catalyst phase time (analysis / optimization / planning, from each
    * execution's `QueryPlanningTracker`), summed over executions. */
  private val phases = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
    private def add(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, summary) =>
        phases.computeIfAbsent(phase, _ => new java.util.concurrent.atomic.DoubleAdder)
          .add(summary.durationMs.toDouble)
      }
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           e: Exception): Unit = add(qe)
  })
  def phaseMs: Map[String, Double] = {
    drain()
    Seq("analysis", "optimization", "planning").map(k =>
      k -> Option(phases.get(k)).map(_.sum).getOrElse(0.0)).toMap
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)

  /** The Spark-runtime per-layer metrics of a measured window of `wallMs`
    * milliseconds on `cores` cores, per unit of work (a pass, a cycle, a
    * window) when the window held `units` of them. */
  def sparkMetrics(wallMs: Double, cores: Int, units: Int): Seq[Metric] = {
    drain()
    val j = sparkStats.jobs.asScala.toSeq
    def per(v: Double) = v / units
    Seq(
      Metric("spark.jobs", per(j.size), "count"),
      Metric("spark.stages", per(j.map(_.stages).sum), "count"),
      Metric("spark.tasks", per(sparkStats.tasks.sum), "count"),
      Metric("spark.task_run_ms", per(sparkStats.taskRunMs.sum), "ms"),
      Metric("spark.scheduler_delay_ms", per(sparkStats.schedDelayMs.sum), "ms"),
      Metric("spark.busy_ratio", sparkStats.taskRunMs.sum / math.max(1.0, wallMs * cores), "ratio"),
      Metric("spark.shuffle_read_bytes", per(sparkStats.shuffleRead.sum), "bytes"),
      Metric("spark.shuffle_write_bytes", per(sparkStats.shuffleWrite.sum), "bytes"),
      Metric("spark.spill_bytes", per(sparkStats.spill.sum), "bytes"),
      Metric("spark.pool_tasks_task_run_ms", per(poolMs(graft.core.GraftSession.TasksPool)), "ms"),
      Metric("spark.pool_serve_task_run_ms", per(poolMs(graft.core.GraftSession.ServePool)), "ms"))
  }

  private def poolMs(pool: String): Double =
    Option(sparkStats.poolRunMs.get(pool)).map(_.sum.toDouble).getOrElse(0.0)

  /** Reset every counter (set-up work is not part of the measured window). */
  def reset(tracer: Tracer): Unit = {
    tracer.mark()
    drain()
    sparkStats.jobs.clear()
    Seq(sparkStats.tasks, sparkStats.taskRunMs, sparkStats.schedDelayMs, sparkStats.shuffleRead,
      sparkStats.shuffleWrite, sparkStats.spill).foreach(_.reset())
    sparkStats.poolRunMs.clear()
    streams.batchMs.clear()
    phases.clear()
  }
}
