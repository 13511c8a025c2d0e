package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables
import graft.ingest.CopyInto
import graft.operators.Cdc
import graft.streaming.PipeStream

/** etl_backfill: closed loop. A pre-landed backlog of CDC order events
  * (1000-row JSON files, mostly inserts with a share of updates and
  * deletes) is ingested twice per pass: `CopyInto` into a
  * date-partitioned, ledgered table and `PipeStream.drain` into a second
  * target. `Cdc.applyChanges` then builds the refined table, followed by
  * the DQ metric batch and the masked table. Last, the refined customers
  * (name, address, email) become a `documents` table for customer
  * matching, which two registered queries of `SparkEntry.queries` run
  * over: exact dedup (`Dedup`) and tf-idf near-duplicate pairs (`Tfidf`).
  * A pass's latency runs from the first ingest call until the matches are
  * written. Per-row parse, write and matching cost grows with the
  * backlog; at a few ten thousand rows the per-call costs still weigh
  * more. */
final class Backfill(spark: SparkSession, conf: Conf, seed: Long, work: String,
    corrupt: Boolean) extends Workload {

  private val rows = conf.int("rows")
  private val rowsPerFile = conf.int("rows_per_file")
  private val filePattern = "cc_txn_.*\\.json"
  private val fileGlob = "cc_txn_*.json"
  private val queryNames = Seq("d01_dedup_exact", "d11_tfidf_pairs")

  private var dir = ""
  private var inputHash = ""
  private var inputBytes = 0L
  private var passes = 0 // every pass, for fresh directory names
  private var failedPasses = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  // passes whose outputs are checked after the window, so checks do not
  // take the window's time
  private val unchecked = mutable.ArrayBuffer.empty[(String, Seq[graft.ingest.LoadRecord])]
  // hash of each query's result in the first checked pass; every other
  // pass must match it, and that pass's tables go to the DuckDB oracle
  private val queryHashes = mutable.Map.empty[String, String]
  // per-pass figures of the traced windows
  private val stepS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var writtenBytes = 0L
  private var tracedPasses = 0

  private def landing = s"$dir/landing"

  def setup(d: String): String = {
    dir = d
    // the backlog covers the last `days` days, so the date-partitioned
    // target has that many partitions
    val spanMs = conf.int("days") * 86400000L
    val lines = Inputs.changeLines(spark, rows, seed, IndexedSeq.empty,
      1.0 - conf.double("update_share") - conf.double("delete_share"),
      conf.double("update_share"), seq0 = 1L,
      reshape = _.withColumn("purchase_time", timestamp_millis(
        lit(graft.gen.OrderGenerator.anchorMillis) - pmod(xxhash64(col("txid")), lit(spanMs)))))
    lines.grouped(rowsPerFile).zipWithIndex.foreach { case (ls, i) =>
      // a corrupted run lands the first file one row short
      Inputs.writeLines(f"$landing/cc_txn_$i%05d.json",
        if (corrupt && i == 0) ls.dropRight(1) else ls)
    }
    Inputs.writeLines(s"$dir/reference/all.json", lines)
    inputBytes = lines.map(_.length + 1L).sum
    inputHash = Stats.tableHash(spark.read.schema(Inputs.changeSchema).json(s"$dir/reference"))
    Stats.sha1(Stats.sha1(lines.mkString("\n")) + inputHash)
  }

  private def timed[T](name: String, tr: Tracer)(body: => T): T = {
    val t = System.nanoTime()
    try tr.span(name)(body)
    finally if (tr.on) stepS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e9
  }

  /** One backfill pass into fresh tables; returns its latency in ms. The
    * outputs of a timed pass are kept for `verify`; a warm pass's are
    * dropped unchecked. */
  private def pass(tr: Tracer, timedPass: Boolean = true): Double = {
    val p = s"$dir/pass-$passes"
    passes += 1
    tr.request = passes
    val t0 = System.nanoTime()
    val loaded = timed("ingest.copy_into", tr) {
      CopyInto.copyInto(spark, landing, filePattern, Inputs.changeSchema, s"$p/copy",
        s"$p/ledger", partitionDateCol = Some("purchase_time"))
    }
    timed("ingest.pipe_drain", tr) {
      PipeStream.drain(spark, landing, Inputs.changeSchema, s"$p/pipe", s"$p/checkpoint",
        Some(fileGlob))
    }
    timed("operators.cdc_apply", tr) {
      val changes = spark.read.parquet(s"$p/copy").drop(Tables.DatePartitionCol)
      val schema = changes.drop("action").schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).write.parquet(s"$p/refined")
      Tables.replaceAtomic(spark, s"$p/refined",
        Cdc.applyChanges(spark.read.parquet(s"$p/refined"), changes, "txid", "seq", "action"))
    }
    timed("dq.metrics", tr) {
      Refine.dqMetrics(spark.read.parquet(s"$p/refined"), new Timestamp(System.currentTimeMillis()))
        .write.parquet(s"$p/dq_metrics")
    }
    timed("pii.mask", tr) {
      Refine.masked(spark.read.parquet(s"$p/refined"), "analyst").write.parquet(s"$p/masked")
    }
    timed("harness.documents", tr) {
      val r = spark.read.parquet(s"$p/refined")
      r.select(xxhash64(col("txid")).as("doc_id"),
        concat_ws(" ", col("name"), col("address.street_address"), col("address.city"),
          col("address.state"), col("email")).as("text"))
        .write.parquet(s"$p/docs/documents.parquet")
    }
    queryNames.foreach { q =>
      timed(s"queries.$q", tr) {
        SparkEntry.queries(q)(spark, s"$p/docs").write.parquet(s"$p/queries/$q")
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tr.on) {
      tracedPasses += 1
      writtenBytes += Seq("copy", "pipe", "refined", "dq_metrics", "masked")
        .map(t => Inputs.parquetBytes(s"$p/$t")).sum
    }
    if (timedPass) unchecked += ((p, loaded)) else Inputs.deleteDir(p)
    ms
  }

  /** Both ingest targets must hold exactly the generated input, the
    * ledger must account for every input row, and every table the pass
    * wrote must be readable. */
  private def check(p: String, loaded: Seq[graft.ingest.LoadRecord]): Unit = {
    val copy = Stats.tableHash(spark.read.parquet(s"$p/copy").drop(Tables.DatePartitionCol)
      .select(Inputs.changeSchema.fieldNames.map(col).toSeq: _*))
    val pipe = Stats.tableHash(spark.read.parquet(s"$p/pipe")
      .select(Inputs.changeSchema.fieldNames.map(col).toSeq: _*))
    val ledgerRows = spark.read.parquet(s"$p/ledger").agg(sum("row_count")).head().getLong(0)
    val errs = Seq(
      (copy != inputHash) -> s"CopyInto target $copy != input $inputHash",
      (pipe != inputHash) -> s"PipeStream target $pipe != input $inputHash",
      (ledgerRows != rows || loaded.map(_.row_count).sum != rows) ->
        s"ledger rows $ledgerRows != input rows $rows",
      (spark.read.parquet(s"$p/dq_metrics").count() != 5) -> "DQ metric batch incomplete",
      (spark.read.parquet(s"$p/masked").count() != spark.read.parquet(s"$p/refined").count()) ->
        "masked table row count differs from the refined table")
      .collect { case (true, m) => m }
    val queryErrs = queryNames.flatMap { q =>
      val h = Stats.tableHash(spark.read.parquet(s"$p/queries/$q"))
      if (queryHashes.getOrElseUpdate(q, h) == h) None
      else Some(s"$q result $h differs from the first pass's ${queryHashes(q)}")
    }
    if (errs.nonEmpty || queryErrs.nonEmpty) { failedPasses += 1; problems ++= errs ++ queryErrs }
  }

  // two passes: the first ones of a JVM are markedly slower
  def warm(): Unit = {
    val off = new Tracer(spark, on = false)
    pass(off, timedPass = false)
    pass(off, timedPass = false)
  }

  def measure(seconds: Double, tr: Tracer): Window = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (lat.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) lat += pass(tr)
    Window(lat.sum / 1e3, lat.toIndexedSeq, lat.map(ms => rows / (ms / 1e3)).toIndexedSeq)
  }

  /** Checks every timed pass and deletes it, except the first pass's
    * documents and query results, which stay for the DuckDB oracle. */
  def verify(): Verdict = {
    Files.createDirectories(Paths.get(s"$work/oracle"))
    unchecked.zipWithIndex.foreach { case ((p, loaded), i) =>
      check(p, loaded)
      if (i == 0) {
        Files.move(Paths.get(s"$p/docs"), Paths.get(s"$work/oracle/docs"))
        Files.move(Paths.get(s"$p/queries"), Paths.get(s"$work/oracle/queries"))
      }
      Inputs.deleteDir(p)
    }
    val oracle = Map("documents" -> s"$work/oracle/docs/documents.parquet",
      "queries" -> queryNames.map(q =>
        Map("name" -> q, "result" -> s"$work/oracle/queries/$q", "sql" -> SparkEntry.oracleSql(q))))
    Files.write(Paths.get(s"$work/queries.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(oracle))
    val n = unchecked.size
    Verdict(n, failedPasses, Seq(
      "CopyInto target, PipeStream target and generated input hash-equal; " +
        s"ledger rows sum to the input; ${queryNames.mkString(" and ")} results " +
        s"equal across passes: ${n - failedPasses}/$n timed passes") ++
      problems.distinct)
  }

  def named(w: Window): Seq[(String, Double, String)] = Seq(
    ("backfill_rows_per_s", Stats.median(w.rates), "1/s"),
    ("backfill_pass_p50_s", Stats.median(w.latenciesMs) / 1e3, "s"),
    ("backfill_pass_max_s", w.latenciesMs.max / 1e3, "s"))

  def layerExtras(w: Window): Seq[(String, Double, String)] = {
    def med(k: String) = Stats.median(stepS.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)
    Seq(
      ("ingest.copy_into_rows_per_s", rows / math.max(1e-9, med("ingest.copy_into")), "1/s"),
      ("ingest.pipe_drain_rows_per_s", rows / math.max(1e-9, med("ingest.pipe_drain")), "1/s"),
      ("ingest.files", math.ceil(rows.toDouble / rowsPerFile), "count"),
      ("ingest.input_mb", inputBytes / 1048576.0, "MB"),
      ("core.bytes_written_per_input_byte",
        writtenBytes.toDouble / math.max(1, tracedPasses) / math.max(1L, inputBytes), "ratio"))
  }
}
