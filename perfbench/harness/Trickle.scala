package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.bus.{FileTopic, TopicSource}
import graft.flow.{Every, TaskDef, TaskGraph}
import graft.operators.Cdc
import graft.query.Explorer
import graft.streaming.StreamApply

/** etl_trickle: open loop. CDC change batches fall due on a fixed
  * schedule, whatever the system is doing. A task DAG runs on a fixed
  * cadence, like the reference's scheduled tasks; each cycle publishes
  * the batches that are due to the file topic, applies them to the
  * orders snapshot (TopicSource → StreamApply, one micro-batch), then
  * computes DQ metrics, refreshes the masked view and reads the metric
  * tiles. A batch's latency (freshness) runs from its due time until the
  * tiles that include it are read, so a cycle that overruns its slot also
  * delays the batches that fall due behind it. The stream runs for the
  * whole run; publishing only at a cycle's start leaves it idle while the
  * refine steps read the snapshot, so no swap overlaps their reads.
  * The snapshot is seeded with the reference's 100k orders in set-up, so
  * each cycle rewrites a table of stationary size. */
final class Trickle(spark: SparkSession, conf: Conf, seed: Long, work: String,
    seconds: Double, corrupt: Boolean) extends Workload {

  private val snapshotRows = conf.int("snapshot_rows")
  private val batchEvents = conf.int("batch_events")
  private val rate = conf.double("rate_batches_per_s")
  private val cadence = conf.double("cadence_s")
  private val warmBatches = 2 // applied in one cycle
  private val topic = "orders_cdc"
  // the warm pass, then the window (traced runs split it in quarters,
  // each rounding its batch count by at most one half)
  private val totalBatches = warmBatches + 4 + math.ceil(seconds * rate).toInt

  private var dir = ""
  private var batches = IndexedSeq.empty[IndexedSeq[String]]
  private var published = 0 // batches on the topic
  private val fileEnds = mutable.ArrayBuffer.empty[Int] // topic file → batches published
  private var applied = 0 // batches visible in the snapshot and tiles
  private var taskRuns = 0L
  private var taskFailures = 0L
  // figures of the traced windows
  private var inputBytes = 0L
  private var rewriteBytes = 0L
  private val lateness = mutable.ArrayBuffer.empty[Double]
  private var maxBacklog = 0
  private var capacityEvents = 0.0
  private var capacityNs = 0L
  private val cycleMs = mutable.ArrayBuffer.empty[Double]

  private def seedDir = s"$dir/seed"
  private def snapshotDir = s"$dir/snapshot"
  private def topicRoot = s"$dir/topic"
  private var topicBus: FileTopic = _
  private var query: StreamingQuery = _

  def setup(d: String): String = {
    import spark.implicits._
    dir = d
    Inputs.orders(spark, snapshotRows, seed).withColumn("seq", lit(0L))
      .write.parquet(seedDir)
    val keys = spark.read.parquet(seedDir).select("txid").as[String].collect().sorted.toIndexedSeq
    val lines = Inputs.changeLines(spark, totalBatches * batchEvents, seed, keys,
      conf.double("insert_share"), conf.double("update_share"), seq0 = 1L)
    batches = lines.grouped(batchEvents).toIndexedSeq
    Inputs.copyDir(seedDir, snapshotDir)
    Stats.sha1(Stats.tableHash(spark.read.parquet(seedDir)) + Stats.sha1(lines.mkString("\n")))
  }

  /** The event a corrupted run never publishes: an insert of the first
    * batch whose key no later event touches, so the final snapshot must
    * differ from the one-shot reference that still applies it. */
  private lazy val lostEvent: String = {
    def key(line: String) = line.substring(9, line.indexOf('"', 9)) // {"txid":"<key>",...
    val last = batches.flatten.zipWithIndex.map { case (l, i) => key(l) -> i }.toMap
    batches(0).zipWithIndex.collectFirst {
      case (l, i) if l.contains("\"action\":\"I\"") && last(key(l)) == i => l
    }.getOrElse(sys.error("no insert in the first batch to drop"))
  }

  /** Publish batches [published, upTo) as one topic file: a running
    * stream would otherwise pick up the first file of a cycle on its own
    * and apply the rest in a second micro-batch. */
  private def publish(upTo: Int, tr: Tracer): Unit = {
    val lines = (published until upTo).flatMap { b =>
      if (corrupt && b == 0) batches(b).filterNot(_ == lostEvent) else batches(b)
    }
    val seq = tr.span("bus.publish") { topicBus.publish(topic, lines) }
    require(seq == fileEnds.size, s"topic file $seq out of sequence")
    fileEnds += upTo
    if (tr.on) inputBytes += lines.map(_.length + 1L).sum
    published = upTo
  }

  private def changes: DataFrame =
    TopicSource.readStream(spark, topicRoot, topic)
      .select(from_json(col("value").cast("string"), Inputs.changeSchema).as("e"))
      .select("e.*")

  /** Sequence number of the last topic file the query has committed. */
  private def committedSeq(q: StreamingQuery): Option[Int] =
    q.recentProgress.flatMap(_.sources.headOption).map(_.endOffset)
      .flatMap(o => """-?\d+""".r.findFirstIn(o)).map(_.toInt).maxOption

  /** One cycle of the DAG: load → apply → dq → mask → tiles, taking every
    * batch below `upTo`. Returns the number of batches visible after it. */
  private def cycle(upTo: Int, tr: Tracer): Int = {
    var visible = applied
    val graph = new TaskGraph()
    graph.add(TaskDef("load", Some(Every(0)), body = () => publish(upTo, tr)))
    graph.add(TaskDef("apply", after = Seq("load"), body = () => tr.span("streaming.cycle") {
      // nothing else publishes, so this returns once the new batches are
      // committed, and the query then idles until the next cycle
      query.processAllAvailable()
      committedSeq(query).foreach(s => visible = fileEnds(s))
    }))
    graph.add(TaskDef("dq", after = Seq("apply"), body = () => tr.span("dq.metrics") {
      Refine.dqMetrics(spark.read.parquet(snapshotDir), new Timestamp(System.currentTimeMillis()))
        .write.mode("append").parquet(s"$dir/dq_metrics")
    }))
    graph.add(TaskDef("mask", after = Seq("dq"), body = () => tr.span("pii.mask") {
      val v = Refine.masked(spark.read.parquet(snapshotDir), "analyst")
      v.createOrReplaceTempView("orders_masked")
      spark.table("orders_masked").limit(20).collect()
    }))
    graph.add(TaskDef("tiles", after = Seq("mask"), body = () => tr.span("query.tiles") {
      Explorer.metricTiles(Explorer.flatten(spark.read.parquet(snapshotDir))).collect()
    }))
    graph.resume("load", dependents = true)
    tr.span("flow.refine") { graph.tick(new Timestamp(System.currentTimeMillis())) }
    taskRuns += graph.history.size
    taskFailures += graph.history.count(!_.status.startsWith("SUCCEEDED"))
    visible
  }

  def warm(): Unit = {
    topicBus = new FileTopic(topicRoot)
    query = StreamApply.start(changes, snapshotDir, "txid", "seq", "action", s"$dir/checkpoint")
    val off = new Tracer(spark, on = false)
    applied = cycle(warmBatches, off)
  }

  def measure(seconds: Double, tr: Tracer): Window = {
    val first = applied
    val n = math.max(1, math.round(seconds * rate).toInt)
    val periodNs = (1e9 / rate).toLong
    val cadenceNs = (cadence * 1e9).toLong
    val t0 = System.nanoTime()
    def dueAt(k: Int) = t0 + k * periodNs
    // cycles start on a fixed cadence, half a period off the due times,
    // so each takes the same batches on every run; a cycle that overruns
    // its slot delays the next one (the missed slots are skipped)
    var slot = t0 + cadenceNs - periodNs / 2
    val fresh = mutable.ArrayBuffer.empty[Double]
    var busyNs = 0L
    var cycles = 0L
    while (applied < first + n) {
      val wait = slot - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val start = System.nanoTime()
      val upTo = first + math.min(n.toLong, (start - t0) / periodNs + 1).toInt
      if (upTo > applied) {
        if (tr.on) maxBacklog = math.max(maxBacklog, upTo - applied)
        cycles += 1
        tr.request = cycles
        val visible = cycle(upTo, tr)
        val at = System.nanoTime()
        busyNs += at - start
        if (tr.on) {
          cycleMs += (at - start) / 1e6
          rewriteBytes += snapshotBytes
          (applied until visible).foreach(b => lateness += (start - dueAt(b - first)) / 1e6)
        }
        (applied until visible).foreach(b => fresh += (at - dueAt(b - first)) / 1e6)
        if (visible != upTo) { taskFailures += 1; sys.error(s"cycle applied $visible of $upTo batches") }
        applied = visible
      }
      while (slot <= System.nanoTime()) slot += cadenceNs
    }
    val events = n.toDouble * batchEvents
    if (tr.on) { capacityEvents += events; capacityNs += busyNs }
    // throughput is the open-loop rate delivered: events made visible per
    // second from the first due time to the last visibility, which equals
    // the offered rate until the cycles fall behind
    Window(busyNs / 1e9, fresh.toIndexedSeq,
      IndexedSeq(events / ((System.nanoTime() - t0) / 1e9)))
  }

  def verify(): Verdict = {
    query.stop()
    val sent = (0 until published).flatMap(batches)
    Inputs.writeLines(s"$dir/published/events.json", sent)
    val events = spark.read.schema(Inputs.changeSchema).json(s"$dir/published")
    val expected = Cdc.applyChanges(spark.read.parquet(seedDir), events, "txid", "seq", "action")
    val got = Stats.tableHash(spark.read.parquet(snapshotDir))
    val want = Stats.tableHash(expected)
    // a wrong snapshot is wrong for every batch it holds
    val ok = got == want && taskFailures == 0
    Verdict(published, if (ok) 0 else published, Seq(
      s"snapshot equals one-shot Cdc.applyChanges of every published event: got $got want $want",
      s"refine task runs: $taskRuns, failed: $taskFailures"))
  }

  def named(w: Window): Seq[(String, Double, String)] = Seq(
    ("etl_freshness_p50_s", Stats.pct(w.latenciesMs, 50) / 1e3, "s"),
    ("etl_freshness_p90_s", Stats.pct(w.latenciesMs, 90) / 1e3, "s"))

  private def snapshotBytes: Long = Inputs.parquetBytes(snapshotDir)

  def layerExtras(w: Window): Seq[(String, Double, String)] = Seq(
    // how long a due batch waited before its cycle published it
    ("gen.lateness_p90_ms", Stats.pct(lateness.toSeq, 90), "ms"),
    ("backlog.max_batches", maxBacklog.toDouble, "count"),
    // events per busy second of the cycles: the rate they could sustain
    ("flow.capacity_per_s", capacityEvents / math.max(1e-9, capacityNs / 1e9), "1/s"),
    // share of its cadence slot the median cycle takes: the headroom
    // before a cycle overruns and the batches behind it wait a slot more
    ("flow.slot_use_pct", 100.0 * Stats.median(cycleMs.toSeq) / (cadence * 1e3), "%"),
    // snapshot bytes rewritten per byte of change events published
    ("core.bytes_written_per_input_byte",
      rewriteBytes.toDouble / math.max(1L, inputBytes), "ratio"))
}
