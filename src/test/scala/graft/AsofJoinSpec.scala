package graft

import java.sql.Timestamp

import graft.operators.{AsofJoin, Sessionize}

class AsofJoinSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("as-of join picks the latest right row at or before each left time") {
    val events = Seq(
      (100L, 1L, ts("2024-01-01 10:00:00")),
      (101L, 1L, ts("2024-01-01 12:00:00")),
      (102L, 2L, ts("2024-01-01 09:00:00")), // before any order → dropped
      (103L, 2L, ts("2024-01-02 09:00:00")))
      .toDF("event_id", "user_id", "ts")
    val orders = Seq(
      (7L, 1L, ts("2024-01-01 10:00:00")), // exactly at event 100 → matches
      (8L, 1L, ts("2024-01-01 11:00:00")),
      (9L, 2L, ts("2024-01-01 23:00:00")),
      (10L, 2L, ts("2024-01-01 23:00:00"))) // tie: max orderkey wins
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = AsofJoin.joinAsOf(events, "user_id", "ts", "event_id",
        orders, "o_custkey", "o_orderdate", "o_orderkey")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq(100L -> 7L, 101L -> 8L, 103L -> 10L))
  }

  test("NULL keys never match (equi-join semantics), on either side") {
    val events = Seq(
      (100L, Option(1L), ts("2024-01-01 10:00:00")),
      (101L, Option.empty[Long], ts("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val orders = Seq(
      (7L, Option(1L), ts("2024-01-01 09:00:00")),
      (8L, Option.empty[Long], ts("2024-01-01 11:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = AsofJoin.joinAsOf(events, "user_id", "ts", "event_id",
        orders, "o_custkey", "o_orderdate", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // event 101 (null key) must NOT be enriched from order 8 (null key)
    assert(got === Seq(100L -> 7L),
      s"null keys cross-matched: $got")
  }

  test("as-of join equals the naive join+rank reference on random data") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(3)
    val base = ts("2024-01-01 00:00:00").getTime
    val events = (1L to 200L).map(i =>
      (i, rnd.nextInt(10).toLong, new Timestamp(base + rnd.nextInt(86400) * 1000L)))
      .toDF("event_id", "user_id", "ts")
    val orders = (1L to 100L).map(i =>
      (i, rnd.nextInt(10).toLong, new Timestamp(base + rnd.nextInt(86400) * 1000L)))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = AsofJoin.joinAsOf(events, "user_id", "ts", "event_id",
        orders, "o_custkey", "o_orderdate", "o_orderkey")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val w = Window.partitionBy("event_id")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val naive = events.join(orders,
        col("o_custkey") === col("user_id") && col("o_orderdate") <= col("ts"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("o_orderkey"))).toSeq
    assert(got === naive)
  }

  test("batch sessionization splits on gaps > N minutes, counts per session") {
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (2L, 1L, ts("2024-01-01 10:10:00")),
      (3L, 1L, ts("2024-01-01 11:30:00")), // 80-min gap → new session
      (4L, 2L, ts("2024-01-01 10:05:00")))
      .toDF("event_id", "user_id", "ts")
    val got = Sessionize.batchSessions(events, "user_id", "ts", "event_id", 30)
      .orderBy("user_id", "session_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("a 30-minute-exact gap SPLITS (>= close rule, matching the streaming twin)") {
    // a session is a run with no gap >= gapMinutes, as in Spark's
    // session_window, so exactly the gap splits
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (2L, 1L, ts("2024-01-01 10:30:00")))
      .toDF("event_id", "user_id", "ts")
    val got = Sessionize.batchSessions(events, "user_id", "ts", "event_id", 30)
      .collect()
    assert(got.length === 2 && got.forall(_.getAs[Long]("n_events") === 1L))
  }
}
