package perfbench

import java.io.PrintWriter
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the program, around each call into one of
  * its layers, plus engine counters read through Spark's public listener
  * APIs. With `on = false` a span only runs its body, so untraced runs
  * pay nothing.
  *
  * A span's layer is the prefix of its name (`bus.publish` is in `bus`).
  * Spans of one user-visible operation share `request`. Each span tags
  * the Spark jobs it launches through a local property, so the trace
  * file links job → span. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0
  @volatile var request: Long = 0L
  private val windowStart = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get
      stack.set(id :: parents)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, id.toString)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        sc.setLocalProperty(SpanProperty, prev)
        stack.set(parents)
        synchronized {
          spans += Span(id, parents.headOption.getOrElse(0), name, request, s, e)
        }
      }
    }

  def spanCount: Int = synchronized(spans.size)

  // ---- engine counters (attached for the traced window only) ----

  private val engine = new EngineCounters
  private val stream = new StreamCounters
  private val catalyst = new CatalystCounters

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(stream)
    spark.listenerManager.register(catalyst)
  }

  /** Detach after the listener buses have delivered every event of the
    * window: listener events arrive asynchronously, and a job counted as
    * started but not ended means its tail is still in flight. */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = -1L
    while (System.nanoTime() < deadline &&
        (engine.jobsStarted.get != engine.jobsEnded.get || engine.events.get != last)) {
      last = engine.events.get
      Thread.sleep(200)
    }
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(engine)
    spark.streams.removeListener(stream)
    spark.listenerManager.unregister(catalyst)
  }

  /** Self time of a span: its duration minus the part its children cover. */
  private def selfTimes: Seq[(Span, Double)] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.start max s.start, k.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      if (curE > curS) covered += curE - curS
      (s, (s.end - s.start - covered) / 1e6)
    }
  }

  /** Per-layer figures of the traced window. Span figures are the median
    * duration per call; `<layer>.self_ms_per_op` is the layer's total
    * self time divided by the window's operations. */
  def layerMetrics(w: Window): Seq[(String, Double, String)] = {
    val ops = math.max(1, w.latenciesMs.size).toDouble
    val st = selfTimes
    val perName = st.groupBy(_._1.name).toSeq.map { case (n, xs) =>
      (s"${n}_ms", Stats.median(xs.map(x => (x._1.end - x._1.start) / 1e6)), "ms")
    }
    val perLayer = st.groupBy(_._1.name.takeWhile(_ != '.')).toSeq.map { case (l, xs) =>
      (s"$l.self_ms_per_op", xs.map(_._2).sum / ops, "ms")
    }
    val wallMs = w.seconds * 1e3
    val mb = 1024.0 * 1024.0
    perName ++ perLayer ++ Seq(
      ("spark.jobs_per_op", engine.jobsEnded.get / ops, "count"),
      ("spark.tasks_per_op", engine.tasks.get / ops, "count"),
      ("spark.executor_run_ms_per_op", engine.runMs.get / ops, "ms"),
      ("spark.gc_ms_per_op", engine.gcMs.get / ops, "ms"),
      ("spark.shuffle_write_mb_per_op", engine.shuffleWrite.get / mb / ops, "MB"),
      ("spark.input_mb_per_op", engine.input.get / mb / ops, "MB"),
      ("spark.output_mb_per_op", engine.output.get / mb / ops, "MB"),
      ("spark.spill_mb_per_op", engine.spill.get / mb / ops, "MB"),
      ("spark.driver_gap_ms_per_op",
        math.max(0.0, wallMs - engine.inJobMs) / ops, "ms"),
      ("catalyst.analysis_ms_per_op", catalyst.analysis.get / ops, "ms"),
      ("catalyst.optimization_ms_per_op", catalyst.optimization.get / ops, "ms"),
      ("catalyst.planning_ms_per_op", catalyst.planning.get / ops, "ms"),
      ("streaming.microbatches", stream.batches.get.toDouble, "count"),
      ("streaming.add_batch_ms", stream.median("addBatch"), "ms"),
      ("streaming.query_planning_ms", stream.median("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms", stream.median("walCommit"), "ms"),
      ("streaming.latest_offset_ms", stream.median("latestOffset"), "ms"))
  }

  /** Write every span (with self time) and every job, one JSON object a
    * line. */
  def write(path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try {
      selfTimes.sortBy(_._1.start).foreach { case (s, self) =>
        out.println(f"""{"span":${s.id},"parent":${s.parent},"name":"${s.name}","request":${s.request},""" +
          f""""start_ms":${(s.start - windowStart) / 1e6}%.3f,"end_ms":${(s.end - windowStart) / 1e6}%.3f,"self_ms":$self%.3f}""")
      }
      engine.jobLog.foreach { case (job, span, s, e) =>
        out.println(s"""{"job":$job,"span":$span,"start_ms":$s,"end_ms":$e}""")
      }
    } finally out.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, request: Long,
      start: Long, end: Long)

  /** Job, task and I/O counters from the scheduler's listener events. */
  final class EngineCounters extends SparkListener {
    val events, jobsStarted, jobsEnded, tasks, runMs, gcMs = new AtomicLong
    val shuffleWrite, input, output, spill = new AtomicLong
    private val open = mutable.Map.empty[Int, (Long, String)]
    val jobLog = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events.incrementAndGet(); jobsStarted.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      open(e.jobId) = (e.time, span.getOrElse("0"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events.incrementAndGet(); jobsEnded.incrementAndGet()
      open.remove(e.jobId).foreach { case (s, span) => jobLog += ((e.jobId, span, s, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet(); tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        output.addAndGet(m.outputMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }

    /** Wall time covered by at least one running job, in ms. */
    def inJobMs: Double = synchronized {
      var total = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      jobLog.map(j => (j._3, j._4)).sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      if (curE > curS) total += curE - curS
      total.toDouble
    }
  }

  /** Micro-batch phase durations from streaming query progress. */
  final class StreamCounters extends StreamingQueryListener {
    val batches = new AtomicLong
    private val phases = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) synchronized {
        batches.incrementAndGet()
        e.progress.durationMs.forEach { (k, v) =>
          phases.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v.doubleValue
        }
      }
    def median(phase: String): Double = synchronized {
      Stats.median(phases.getOrElse(phase, mutable.ArrayBuffer.empty[Double]).toSeq)
    }
  }

  /** Analysis, optimization and physical-planning time of every executed
    * query, from `QueryExecution.tracker`. */
  final class CatalystCounters extends QueryExecutionListener {
    val analysis, optimization, planning = new AtomicLong
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analysis.addAndGet(p.durationMs))
      ph.get("optimization").foreach(p => optimization.addAndGet(p.durationMs))
      ph.get("planning").foreach(p => planning.addAndGet(p.durationMs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
