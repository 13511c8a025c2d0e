package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamNearDup

case class Doc(doc_id: Long, ts: Timestamp, text: String)

/** Streaming MinHash+LSH near-dup: the stateful-bucket detector must
  * find exactly the pairs the batch operator finds on the same corpus,
  * including pairs whose two documents arrive in different
  * micro-batches. */
class StreamNearDupSpec extends SparkSuite {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(3600000L + min * 60000L)

  // near-dup families: 0≈1≈4 (one-word edits), 2≈3 (reordered tail);
  // 5 is a singleton
  private val corpus = Seq(
    Doc(0, ts(0), "the quick brown fox jumps over the lazy dog again and again"),
    Doc(1, ts(1), "the quick brown fox jumps over the lazy cat again and again"),
    Doc(2, ts(2), "structured streaming keeps bounded state under a watermark horizon"),
    Doc(3, ts(3), "structured streaming keeps bounded state under the watermark horizon"),
    Doc(4, ts(4), "the quick brown fox leaps over the lazy dog again and again"),
    Doc(5, ts(5), "completely unrelated text about parquet row groups and codecs"))

  private def batchPairs: Set[(Long, Long, Double)] =
    Dedup.minhashDedupPairs(corpus.toDF(), "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("streaming pairs == batch pairs, across micro-batch boundaries") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = StreamNearDup.candidatePairs(in.toDF(), "doc_id", "ts", "text",
        threshold = 0.5, watermark = "2 hours", horizonMinutes = 240)
      .writeStream.format("memory").queryName("near_dup").outputMode("append")
      .start()
    try {
      // split so several dup pairs straddle the batch boundary
      // (0,1,2 arrive first; 3 pairs with 2, 4 pairs with 0 and 1)
      in.addData(corpus.take(3): _*)
      q.processAllAvailable()
      in.addData(corpus.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("near_dup")
        .select("id_a", "id_b", "jaccard").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batchPairs.nonEmpty, "corpus must contain near-dups")
      assert(streamed === batchPairs)
    } finally q.stop()
  }

  test("pairs farther apart than the horizon are not emitted, even in one batch") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Doc]
    // identical texts 120 min apart; horizon 30 min — the gate must hold
    // even though both docs are resident together (same micro-batch)
    val q = StreamNearDup.candidatePairs(in.toDF(), "doc_id", "ts", "text",
        threshold = 0.5, watermark = "4 hours", horizonMinutes = 30)
      .writeStream.format("memory").queryName("near_dup_gate")
      .outputMode("append").start()
    try {
      in.addData(Doc(10, ts(0), corpus.head.text), Doc(11, ts(120), corpus.head.text),
        Doc(12, ts(125), corpus.head.text))
      q.processAllAvailable()
      val got = spark.table("near_dup_gate").select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // only the 11-12 pair (5 min apart) is inside the horizon
      assert(got === Set((11L, 12L)))
    } finally q.stop()
  }

  test("composes with the kafka-shaped topic source end-to-end") {
    // the full streaming dedup pipeline a kafka user would run: topic →
    // JSON parse → stateful LSH near-dup — pairs surface as docs land
    val root = java.nio.file.Files.createTempDirectory("neardup_topic").toString
    val bus = new graft.bus.FileTopic(root)
    def msg(d: Doc) =
      s"""{"doc_id":${d.doc_id},"ts":"${d.ts}","text":"${d.text}"}"""
    bus.publish("docs", corpus.take(3).map(msg))
    bus.publish("docs", corpus.drop(3).map(msg))
    val parsed = graft.bus.TopicSource.readStream(spark, root, "docs")
      .select(
        get_json_object(col("value").cast("string"), "$.doc_id")
          .cast("long").as("doc_id"),
        get_json_object(col("value").cast("string"), "$.ts")
          .cast("timestamp").as("ts"),
        get_json_object(col("value").cast("string"), "$.text").as("text"))
    val q = StreamNearDup.candidatePairs(parsed, "doc_id", "ts", "text",
        threshold = 0.5, watermark = "2 hours", horizonMinutes = 240)
      .writeStream.format("memory").queryName("topic_near_dup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("topic_near_dup")
        .select("id_a", "id_b", "jaccard").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed === batchPairs)
    } finally q.stop()
  }

  test("empty/short docs behave exactly like the batch twin (one exact-dup family)") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    // ShingleHashes hashes the WHOLE text as one shingle below k tokens,
    // so ""/"   " trim to the same single-hash set: empties are an
    // exact-duplicate family (Jaccard 1.0) in batch and stream alike —
    // never a null-lane degenerate bucket. A flood of them is the
    // hot-bucket case the maxBucket star fallback bounds.
    val edge = Seq(Doc(20, ts(0), ""), Doc(21, ts(1), "   "),
      Doc(22, ts(2), "two words"), Doc(23, ts(3), corpus.head.text),
      Doc(24, ts(4), corpus.head.text))
    val expected = Dedup.minhashDedupPairs(edge.toDF(), "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.contains((20L, 21L)),
      "batch twin must pair the empty family (exact dups)")
    val in = MemoryStream[Doc]
    val q = StreamNearDup.candidatePairs(in.toDF(), "doc_id", "ts", "text",
        threshold = 0.5, watermark = "2 hours", horizonMinutes = 240)
      .writeStream.format("memory").queryName("near_dup_empty")
      .outputMode("append").start()
    try {
      in.addData(edge: _*)
      q.processAllAvailable()
      val got = spark.table("near_dup_empty").select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("a bucket at the cap degrades to representative-star comparisons") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Doc]
    // maxBucket = 1: after the first resident, each arrival compares only
    // against the bucket's min-id representative — the batch operator's
    // star fallback (Dedup.cappedCliqueAndStar) in stream form
    val q = StreamNearDup.candidatePairs(in.toDF(), "doc_id", "ts", "text",
        threshold = 0.5, watermark = "2 hours", horizonMinutes = 240,
        maxBucket = 1)
      .writeStream.format("memory").queryName("near_dup_cap")
      .outputMode("append").start()
    try {
      in.addData(Doc(30, ts(0), corpus.head.text),
        Doc(31, ts(1), corpus.head.text), Doc(32, ts(2), corpus.head.text))
      q.processAllAvailable()
      val got = spark.table("near_dup_cap").select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((30L, 31L), (30L, 32L)),
        "star pairs around the representative only — no member-member pair")
    } finally q.stop()
  }

  test("mid-batch kill: uncommitted epoch replays, sink log dedups, pairs == batch twin across two restarts") {
    // the reliable-mode chain StreamDedupSpec and StreamApplySpec also
    // run: file source + real checkpoint + parquet sink, killed between
    // the sink write and the epoch commit, restarted twice. The LSH
    // bucket state is the part with real state to lose — the replayed
    // epoch must recompute from the checkpointed state version and the
    // sink's transaction log must keep the output exactly-once.
    import java.nio.file.{Files, Paths}
    val landing = Files.createTempDirectory("neardup_landing").toString
    val out = Files.createTempDirectory("neardup_out").toString
    val ckpt = Files.createTempDirectory("neardup_ckpt").toString
    def stage(name: String, docs: Seq[Doc]): Unit =
      docs.toDF().coalesce(1).write.mode("overwrite").json(s"$landing/$name")
    val schema = org.apache.spark.sql.Encoders.product[Doc].schema
    def startStream() =
      StreamNearDup.candidatePairs(
          spark.readStream.schema(schema).json(s"$landing/*/"),
          "doc_id", "ts", "text", threshold = 0.5,
          watermark = "2 hours", horizonMinutes = 240)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()

    // epoch 0: docs 0,1 — emits the (0,1) family pairs into bucket state
    stage("b0", corpus.take(2))
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()

    // kill AFTER batch 0's sink write but BEFORE its epoch commit: drop
    // the commit marker (the crashed run never wrote it) ...
    val commit0 = Paths.get(ckpt, "commits", "0")
    assert(Files.exists(commit0), "expected a committed epoch 0")
    Files.delete(commit0)
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    // ... and plant the dying attempt's orphan part file: it is not in
    // the sink's _spark_metadata log, so readers must never see it
    Seq(graft.streaming.NearDupPair(999998L, 999999L, 0.9999, 0)).toDS()
      .write.mode("append").parquet(out)

    // restart 1: epoch 0 REPLAYS from checkpointed offsets + state
    // version 0; the sink log already holds batch 0 and skips the
    // rewrite (exactly-once). epoch 1 then pairs docs 2,3.
    stage("b1", corpus.slice(2, 4))
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()

    // restart 2: epoch 2's doc 4 must pair with docs 0 and 1 — bucket
    // state written in epoch 0 survives BOTH restarts
    stage("b2", corpus.drop(4))
    val q3 = startStream()
    try q3.processAllAvailable() finally q3.stop()

    assert(Files.exists(Paths.get(ckpt, "commits", "2")),
      "expected three committed epochs")
    val rows = spark.read.parquet(out)
      .select("id_a", "id_b", "jaccard", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    // one bucket per (doc, band): a pair meets at most once per band,
    // so ANY exact duplicate row means a double-committed epoch
    assert(rows.size === rows.distinct.size,
      "duplicate sink rows after the replay")
    assert(!rows.exists(_._1 == 999998L),
      "the crashed attempt's orphan part file surfaced through the sink log")
    assert(rows.map(r => (r._1, r._2, r._3)).toSet === batchPairs,
      "cross-restart pair set must equal the batch twin")
    // checkpoint footprint stays bounded: offsets/commits/state for 3
    // epochs at 4 shuffle partitions — a leak (per-epoch snapshots never
    // cleaned, tmp files left behind) shows up as runaway file count
    val ckFiles = scala.util.Using.resource(Files.walk(Paths.get(ckpt))) {
      w => w.filter(Files.isRegularFile(_)).count()
    }
    assert(ckFiles <= 150,
      s"$ckFiles checkpoint files after 3 epochs — unbounded growth")
  }

  test("per-row signature is bit-identical to the batch aggregate signature") {
    val hs = corpus.toDF()
      .select(col("doc_id").as("id"), Dedup.hashedShingles(col("text"), 3).as("hs"))
    val viaAgg = Dedup.signaturesFromHashes(hs, numHashes = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val viaRow = hs.select(col("id"),
        StreamNearDup.rowSignature(col("hs"), numHashes = 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(viaRow === viaAgg)
  }
}
