package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore}
import graft.streaming.StreamIndexProbe

case class ArrivingDoc(doc_id: Long, text: String)

/** Streaming dedup-against-history: arriving docs probe the frozen
  * MinHash index; the pair ledger across micro-batches equals the
  * one-shot batch probe of the same docs. */
class StreamIndexProbeSpec extends SparkSuite {
  import spark.implicits._

  test("streamed probes accumulate to the one-shot batch probe") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val idx = Files.createTempDirectory("sip_idx").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx, parts = 16)

    // arrivals: near-dup copies of docs 0-5 (one appended token) under
    // fresh ids — some in batch 1, some in batch 2
    val arrivals = corpus.filter($"doc_id" < 6)
      .withColumn("doc_id", $"doc_id" + 100000L)
      .withColumn("text", concat($"text", lit(" tail")))
      .collect().map(r => ArrivingDoc(r.getLong(0), r.getString(1)))

    val out = Files.createTempDirectory("sip_out").toString
    val ckpt = Files.createTempDirectory("sip_ckpt").toString
    val stream = MemoryStream[ArrivingDoc]
    val q = StreamIndexProbe.start(stream.toDF(), idx, out, ckpt,
      "doc_id", "text", threshold = 0.5)
    try {
      stream.addData(arrivals.take(3).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(arrivals.drop(3).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "index_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ledger = rows(spark.read.parquet(out))
    val oneShot = rows(Dedup.probeMinhashIndex(spark, idx,
      arrivals.toSeq.toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.5))
    assert(ledger === oneShot)
    // every planted near-dup found its original
    assert((0 until 6).forall(i =>
      ledger.exists(p => p._1 == 100000L + i && p._2 == i)),
      s"planted pair missing from $ledger")
  }

  test("a tombstone landing mid-stream stops the probe surfacing the " +
      "deleted doc — continuous erasure with no stream restart") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val idx = Files.createTempDirectory("sip_tomb_idx").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx, parts = 16)
    val arrivals = corpus.filter($"doc_id" < 4)
      .withColumn("doc_id", $"doc_id" + 100000L)
      .withColumn("text", concat($"text", lit(" tail")))
      .collect().map(r => ArrivingDoc(r.getLong(0), r.getString(1)))
    val out = Files.createTempDirectory("sip_tomb_out").toString
    val ckpt = Files.createTempDirectory("sip_tomb_ckpt").toString
    val stream = MemoryStream[ArrivingDoc]
    val q = StreamIndexProbe.start(stream.toDF(), idx, out, ckpt,
      "doc_id", "text", threshold = 0.5)
    try {
      stream.addData(arrivals.take(2).toIndexedSeq)
      q.processAllAvailable()
      // the erasure request arrives BETWEEN micro-batches: docs 2 and 3
      // are forgotten from the index while the stream keeps running
      IndexStore.delete(spark, idx,
        Seq(2L, 3L).toDF("doc_id"))
      stream.addData(arrivals.drop(2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val ledger = spark.read.parquet(out)
      .select("probe_id", "index_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // pre-erasure batches keep their (already served) rows ...
    assert(ledger.contains((100000L, 0L)) && ledger.contains((100001L, 1L)))
    // ... but no post-erasure batch may surface the forgotten docs
    assert(!ledger.exists(p => p._1 >= 100002L && (p._2 == 2L || p._2 == 3L)),
      s"erased docs still served after deletion: $ledger")
  }

  test("mid-batch kill: the uncommitted epoch replays, rewrites its ledger dir, no duplicates") {
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val idx = Files.createTempDirectory("sipr_idx").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx, parts = 16)

    val arrivals = corpus.filter($"doc_id" < 6)
      .withColumn("doc_id", $"doc_id" + 100000L)
      .withColumn("text", concat($"text", lit(" tail")))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // write via the engine so the text is properly JSON-escaped
    def stage(landing: String, name: String,
        docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").json(s"$landing/$name")

    val landing = Files.createTempDirectory("sipr_landing").toString
    val out = Files.createTempDirectory("sipr_out").toString
    val ckpt = Files.createTempDirectory("sipr_ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def startStream() = StreamIndexProbe.start(
      spark.readStream.schema(schema).json(s"$landing/*/"),
      idx, out, ckpt, "doc_id", "text", threshold = 0.5)

    stage(landing, "b0", arrivals.take(3).toSeq)
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()

    // simulate a kill AFTER batch 0's ledger write but BEFORE its epoch
    // commit: drop the commit marker (the crashed run never wrote it)
    // and plant a bogus partial file in batch=0 — the half-written
    // output of the dying attempt
    val commit0 = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(Files.exists(commit0), "expected a committed epoch 0")
    Files.delete(commit0)
    // the local ChecksumFileSystem's shadow crc must go with it, or the
    // replay's rename-into-place trips over it (an artifact of local
    // testing — HDFS/object stores have no shadow file)
    Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    Seq((999999L, 999999L, 0.999)).toDF("probe_id", "index_id", "jaccard")
      .write.mode("append").parquet(s"$out/batch=0")

    // restart: epoch 0 must REPLAY from its checkpointed offsets and
    // OVERWRITE batch=0 (bogus partial gone), then epoch 1 processes
    // the new arrivals — exactly-once end to end
    stage(landing, "b1", arrivals.drop(3).toSeq)
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.parquet(out)
      .select("probe_id", "index_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows.size === rows.distinct.size, "duplicate ledger rows")
    assert(!rows.exists(_._1 == 999999L),
      "the crashed attempt's partial output survived the replay")
    val oneShot = Dedup.probeMinhashIndex(spark, idx,
        arrivals.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.toSet === oneShot)
  }
}
