package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamDedup

case class KeyedMsg(k: String, ts: Timestamp)

/** Streaming exact dedup: at-least-once upstream → exactly-once-per-key
  * downstream inside the watermark horizon, with watermark-bounded
  * state. */
class StreamDedupSpec extends SparkSuite {
  import spark.implicits._

  test("redelivered keys within the watermark are dropped across batches") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[KeyedMsg]
    val out = StreamDedup.dedupedStream(input.toDF(), "ts", Seq("k"), "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def t(min: Int) = new Timestamp(min * 60000L)
    try {
      input.addData(KeyedMsg("a", t(1)), KeyedMsg("b", t(2)), KeyedMsg("a", t(3)))
      q.processAllAvailable()
      // redelivery in a LATER batch, still inside the horizon
      input.addData(KeyedMsg("a", t(4)), KeyedMsg("c", t(5)))
      q.processAllAvailable()
      val keys = spark.table("dedup_out").collect().map(_.getString(0)).sorted
      assert(keys.toSeq === Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("mid-batch kill: engine-managed dedup state survives two restarts, output == batch distinct") {
    // the reliable-mode chain StreamNearDupSpec and StreamApplySpec also
    // run — but here the state at risk is SPARK'S OWN state store behind
    // dropDuplicatesWithinWatermark, not hand-built bucket state: a
    // checkpoint-format replay must restore the engine's key set, or a
    // redelivery after the crash re-emits a key the dead run already
    // passed through (silently breaking exactly-once-per-key).
    import java.nio.file.{Files, Paths}
    val landing = Files.createTempDirectory("dedup_landing").toString
    val out = Files.createTempDirectory("dedup_out").toString
    val ckpt = Files.createTempDirectory("dedup_ckpt").toString
    def t(min: Int) = new Timestamp(min * 60000L)
    def stage(name: String, msgs: Seq[KeyedMsg]): Unit =
      msgs.toDF().coalesce(1).write.mode("overwrite").json(s"$landing/$name")
    val schema = org.apache.spark.sql.Encoders.product[KeyedMsg].schema
    def startStream() =
      StreamDedup.dedupedStream(
          spark.readStream.schema(schema).json(s"$landing/*/"),
          "ts", Seq("k"), "10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()

    // epoch 0: a (twice in-batch), b — emits a, b; state holds {a, b}
    stage("b0", Seq(KeyedMsg("a", t(1)), KeyedMsg("b", t(2)), KeyedMsg("a", t(3))))
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()

    // kill AFTER batch 0's sink write but BEFORE its epoch commit: drop
    // the commit marker (the crashed run never wrote it) ...
    val commit0 = Paths.get(ckpt, "commits", "0")
    assert(Files.exists(commit0), "expected a committed epoch 0")
    Files.delete(commit0)
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    // ... and plant the dying attempt's orphan part file: not in the
    // sink's _spark_metadata log, so readers must never see it
    Seq(KeyedMsg("ZZ_orphan", t(99))).toDS()
      .write.mode("append").parquet(out)

    // restart 1: epoch 0 replays from the checkpointed offsets + state
    // version (sink log skips the rewrite); epoch 1 redelivers a —
    // which only stays dropped if the REPLAYED state store kept it —
    // and introduces c
    stage("b1", Seq(KeyedMsg("a", t(4)), KeyedMsg("c", t(5))))
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()

    // restart 2: b redelivered (state from epoch 0 must survive BOTH
    // restarts), d new
    stage("b2", Seq(KeyedMsg("b", t(6)), KeyedMsg("d", t(7))))
    val q3 = startStream()
    try q3.processAllAvailable() finally q3.stop()

    assert(Files.exists(Paths.get(ckpt, "commits", "2")),
      "expected three committed epochs")
    val keys = spark.read.parquet(out).select("k").collect()
      .map(_.getString(0)).toSeq
    assert(keys.size === keys.distinct.size,
      "duplicate keys after the replay — the state store replay lost the dedup set or the sink double-committed")
    assert(!keys.contains("ZZ_orphan"),
      "the crashed attempt's orphan part file surfaced through the sink log")
    assert(keys.sorted === Seq("a", "b", "c", "d"),
      "cross-restart key set must equal the batch distinct")
    // checkpoint footprint stays bounded (same gate as the NearDup twin)
    val ckFiles = scala.util.Using.resource(Files.walk(Paths.get(ckpt))) {
      w => w.filter(Files.isRegularFile(_)).count()
    }
    assert(ckFiles <= 150,
      s"$ckFiles checkpoint files after 3 epochs — unbounded growth")
  }
}
