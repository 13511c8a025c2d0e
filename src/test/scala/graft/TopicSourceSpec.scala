package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.bus.{FileTopic, TopicSource}

/** S12 via the standard Spark source surface: readStream on the
  * FileTopic log with the kafka-compatible schema, checkpoint-backed
  * consumer groups, restart-resume (FileTopicSpec parity at the
  * DataSource V2 level). */
class TopicSourceSpec extends SparkSuite {

  private def drainTo(root: String, topic: String, outDir: String,
      ckpt: String): Unit = {
    val q = TopicSource.readStream(spark, root, topic)
      .select(col("value").cast("string").as("msg"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
    q.awaitTermination()
  }

  test("graft-topic source reads kafka-shaped rows; checkpoint = group offset") {
    val root = Files.createTempDirectory("topic_src").toString
    val out = Files.createTempDirectory("topic_out").toString
    val ckpt = Files.createTempDirectory("topic_ckpt").toString
    val bus = new FileTopic(root)
    bus.publish("orders", Seq("""{"id":1}""", """{"id":2}"""))
    bus.publish("orders", Seq("""{"id":3}"""))

    drainTo(root, "orders", out, ckpt)
    val got = spark.read.parquet(out)
    assert(got.count() === 3L)
    val row = got.orderBy("partition", "offset").collect()(0)
    assert(row.getAs[String]("msg") === """{"id":1}""")
    assert(row.getAs[String]("topic") === "orders")
    assert(row.getAs[Int]("partition") === 0)
    assert(row.getAs[Long]("offset") === 0L)

    // restart with the same checkpoint: ONLY the newly published file
    // arrives — exactly-once per consumer group across restarts
    bus.publish("orders", Seq("""{"id":4}""", """{"id":5}"""))
    drainTo(root, "orders", out, ckpt)
    assert(spark.read.parquet(out).count() === 5L)
    val ids = spark.read.parquet(out)
      .select(get_json_object(col("msg"), "$.id").cast("int").as("id"))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(ids === Seq(1, 2, 3, 4, 5))

    // an independent group (fresh checkpoint) re-sees every message
    val out2 = Files.createTempDirectory("topic_out2").toString
    val ckpt2 = Files.createTempDirectory("topic_ckpt2").toString
    drainTo(root, "orders", out2, ckpt2)
    assert(spark.read.parquet(out2).count() === 5L)
  }

  test("topic source composes end-to-end: parse → watermark → windowed agg") {
    // the full consumer pipeline a kafka user would run, unchanged on
    // this backend: kafka-shaped rows → JSON parse → event-time window
    val root = Files.createTempDirectory("topic_pipe").toString
    val bus = new FileTopic(root)
    bus.publish("tx", Seq(
      """{"k":"a","ts":"2024-01-01 10:01:00","v":1.0}""",
      """{"k":"a","ts":"2024-01-01 10:04:00","v":3.0}""",
      """{"k":"b","ts":"2024-01-01 10:07:00","v":5.0}"""))
    val parsed = TopicSource.readStream(spark, root, "tx")
      .select(
        get_json_object(col("value").cast("string"), "$.k").as("k"),
        get_json_object(col("value").cast("string"), "$.ts")
          .cast("timestamp").as("ts"),
        get_json_object(col("value").cast("string"), "$.v")
          .cast("double").as("v"))
    val agg = parsed.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("k"), col("n"), col("sv"))
    val q = agg.writeStream.format("memory").queryName("topic_agg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("topic_agg").orderBy("window_start", "k")
        .collect().map(r => (r.getString(2), r.getLong(3), r.getDouble(4)))
      assert(got.toSeq === Seq(("a", 2L, 4.0), ("b", 1L, 5.0)))
    } finally q.stop()
  }

  test("short name resolves via DataSourceRegister") {
    val root = Files.createTempDirectory("topic_sn").toString
    new FileTopic(root).publish("t", Seq("a"))
    val df = spark.readStream.format("graft-topic")
      .option("path", root).option("topic", "t").load()
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq ===
      Seq("key", "value", "topic", "partition", "offset", "timestamp", "timestampType"))
  }

}
