package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A workload's settings, read from `perfbench/workloads.json`. */
final class Conf(m: Map[String, Any]) {
  private def num(k: String): Double = m.get(k) match {
    case Some(n: java.lang.Number) => n.doubleValue
    case _ => sys.error(s"workloads.json: missing number '$k'")
  }
  def int(k: String): Int = num(k).toInt
  def double(k: String): Double = num(k)
}

/** What one measured window of a workload produced: its busy seconds,
  * one latency per user-visible operation, and the rate of work (events,
  * rows or requests per second) of each unit of work it timed. */
final case class Window(seconds: Double, latenciesMs: IndexedSeq[Double],
    rates: IndexedSeq[Double])

object Window {
  def merge(a: Window, b: Window): Window =
    Window(a.seconds + b.seconds, a.latenciesMs ++ b.latenciesMs, a.rates ++ b.rates)
}

/** Outcome of the correctness checks: operations attempted, operations
  * that failed or gave a wrong answer, and one line per check. */
final case class Verdict(attempted: Long, failed: Long, checks: Seq[String])

/** One way the system is used. The runner calls `setup` once, then
  * `warm`, then `measure` for the timed window, then `verify`. */
trait Workload {
  def setup(dir: String): String // returns a digest of the generated inputs
  def warm(): Unit
  def measure(seconds: Double, tr: Tracer): Window
  def verify(): Verdict
  /** The same window under the names the workload's users know it by. */
  def named(w: Window): Seq[(String, Double, String)]
  /** Per-layer figures only the workload can compute (beyond the spans
    * and engine counters every workload reports). */
  def layerExtras(w: Window): Seq[(String, Double, String)]
}

/** Harness entry point. Run through `perfbench/run.py`, which builds the
  * class path and passes every option. */
object Main {

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val conf = new Conf(mapper.readValue(Paths.get(a("conf")).toFile, classOf[Map[String, Any]]))
    val cores = conf.int("cores")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    // a corrupted run damages one input or response on purpose, so the
    // benchmark's own tests can show each correctness check fails
    val corrupt = a.get("corrupt").contains("1")
    val wl: Workload = workload match {
      case "etl_trickle" => new Trickle(spark, conf, seed, work, seconds, corrupt)
      case "etl_backfill" => new Backfill(spark, conf, seed, work, corrupt)
      case "analyst_serve" => new Serve(spark, conf, seed, work, corrupt)
      case other => sys.error(s"unknown workload $other")
    }

    // setup_s runs from JVM start to the first timed operation: session
    // start, input generation and the warm pass, each done once
    val genStart = System.currentTimeMillis()
    val digest = wl.setup(s"$work/setup")
    val warmStart = System.currentTimeMillis()
    wl.warm()
    val firstTimed = System.currentTimeMillis()
    val setupS = (firstTimed - jvmStart) / 1e3

    val untraced = new Tracer(spark, on = false)
    val (window, tracer, overheadPct) =
      if (!traced) (wl.measure(seconds, untraced), untraced, 0.0)
      else {
        // untraced, traced, traced, untraced quarters: the gap between the
        // halves is the tracing overhead, and the symmetric order keeps
        // warm-up drift out of it
        val tr = new Tracer(spark, on = true)
        val u1 = wl.measure(seconds / 4, untraced)
        tr.attach()
        val t = Window.merge(wl.measure(seconds / 4, tr), wl.measure(seconds / 4, tr))
        tr.detach()
        val u = Window.merge(u1, wl.measure(seconds / 4, untraced))
        (t, tr, 100.0 * (Stats.median(t.latenciesMs) /
          math.max(1e-9, Stats.median(u.latenciesMs)) - 1.0))
      }
    val windowEnd = System.currentTimeMillis()
    val retainedMb = Stats.retainedHeapMb()
    val verifyStart = System.currentTimeMillis()
    val verdict = wl.verify()
    val verifyS = (System.currentTimeMillis() - verifyStart) / 1e3
    val canaryS = Stats.canary()

    val lat = window.latenciesMs
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", Stats.median(lat), "ms"),
      ("throughput_per_s", Stats.median(window.rates), "1/s"),
      ("retained_heap_mb", retainedMb, "MB"))
    val layers =
      if (!traced) Nil
      else tracer.layerMetrics(window) ++ wl.layerExtras(window) ++ Seq(
        ("trace.overhead_pct", overheadPct, "%"),
        ("trace.spans", tracer.spanCount.toDouble, "count"))
    if (traced) tracer.write(a("trace_file"))

    def metrics(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val out = Map(
      "attempted" -> verdict.attempted,
      "failed" -> verdict.failed,
      "checks" -> verdict.checks,
      "end_to_end" -> metrics(e2e),
      "named" -> metrics(wl.named(window) :+ (("setup_s", setupS, "s"))),
      "per_layer" -> metrics(layers),
      "samples" -> lat.size,
      "input_digest" -> digest,
      "context" -> Map(
        "canary_s" -> canaryS,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores" -> cores,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
        "spark" -> spark.version,
        // context, not a gated metric: VmHWM follows G1's adaptive heap
        // sizing as much as the program
        "peak_rss_mb" -> Stats.peakRssMb(),
        "latencies_ms" -> lat,
        "setup_session_s" -> sessionS,
        "setup_generation_s" -> (warmStart - genStart) / 1e3,
        "setup_warm_s" -> (firstTimed - warmStart) / 1e3,
        "window_s" -> (windowEnd - firstTimed) / 1e3,
        "verify_s" -> verifyS))
    Files.write(Paths.get(a("out")), mapper.writeValueAsBytes(out))
    spark.stop()
  }
}
