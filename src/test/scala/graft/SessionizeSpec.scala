package graft

import graft.operators.Sessionize

class SessionizeSpec extends SparkSuite {

  test("batch twin breaks a session at EXACTLY the gap (>= close rule)") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1L),
      (1L, "2024-01-01 10:30:00", 2L), // exactly 30 min later → new session
      (1L, "2024-01-01 10:59:59", 3L)  // 29:59 later → same session
    ).toDF("user_id", "s", "event_id")
      .select($"user_id", $"s".cast("timestamp").as("ts"), $"event_id")
    val out = Sessionize.batchSessions(df, "user_id", "ts", "event_id",
        gapMinutes = 30)
      .orderBy("session_idx").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq // (session_idx, n)
    assert(out === Seq(1L -> 1L, 2L -> 2L))
  }

  test("batch twin agrees with Spark's built-in session_window on real events") {
    // three-way agreement anchor: our lag-break/cumsum formulation must
    // produce the same (user, start, end, n) sessions as the engine's
    // native session_window — on the driver testdata, not a toy
    import org.apache.spark.sql.functions._
    val events = graft.core.Tables.table(spark, "/root/testdata/sf0.001", "events")
    val gap = 30
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1), r.getLong(2))
    val ours = Sessionize.batchSessions(events, "user_id", "ts", "event_id", gap)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(key).toSet
    // session_window merges events strictly closer than the gap — the
    // same >= break rule batchSessions implements
    val native = events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gap minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
      .collect().map(key).toSet
    assert(ours.nonEmpty)
    assert(ours === native)
  }
}
