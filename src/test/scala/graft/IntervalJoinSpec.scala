package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IntervalJoin

/** Bucketed point-in-interval counts: exact per-interval counts (no
  * dup, no loss) against a brute-force containment join, boundary
  * semantics, empty intervals, and the no-cartesian plan promise. */
class IntervalJoinSpec extends SparkSuite {
  import spark.implicits._

  private def ts(h: Int, m: Int) =
    Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")

  private def counts(df: DataFrame): Map[(Timestamp, Timestamp), Long] =
    df.collect().map(r => ((r.getTimestamp(0), r.getTimestamp(1)),
      r.getLong(2))).toMap

  private def bucketed(points: DataFrame, intervals: DataFrame,
      bucket: String = "hour") =
    IntervalJoin.countPerInterval(points, "ts", intervals, "ws", "we",
      col("event_id"), bucket)

  /** Per-interval counts from the plain containment predicate (a nested
    * loop join); intervals must be distinct (ws, we) rows. */
  private def brute(points: DataFrame, intervals: DataFrame) =
    counts(intervals.join(points,
        col("ts") >= col("ws") && col("ts") < col("we"), "left")
      .groupBy("ws", "we").agg(count(col("event_id"))))

  test("matches == brute force; half-open boundaries; multi-bucket spans") {
    val points = Seq(
      (1L, ts(9, 0)),   // exactly at a start → IN (closed start)
      (2L, ts(10, 30)), // exactly at window 1's end → OUT of it (open
                        // end), but inside window 2 [9:30, 11:00)
      (3L, ts(10, 29)), // inside, second bucket of a 90-min window
      (4L, ts(23, 59)), // in no window
      (5L, ts(9, 45))
    ).toDF("event_id", "ts")
    val intervals = Seq(
      (ts(9, 0), ts(10, 30)),  // spans buckets 9 and 10
      (ts(9, 30), ts(11, 0)),  // overlapping window
      (ts(15, 0), ts(16, 0))   // empty
    ).toDF("ws", "we")

    val got = counts(bucketed(points, intervals))
    assert(got === brute(points, intervals))
    assert(got === Map((ts(9, 0), ts(10, 30)) -> 3L,
      (ts(9, 30), ts(11, 0)) -> 3L, (ts(15, 0), ts(16, 0)) -> 0L))

    // the plan is an equi join on the bucket — never a cartesian
    val plan = bucketed(points, intervals).queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated:\n${plan.take(1500)}")
  }

  test("countPerInterval keeps empty intervals at 0 and never inflates") {
    val points = Seq((1L, ts(9, 10)), (2L, ts(9, 50)), (3L, ts(10, 20)))
      .toDF("event_id", "ts")
    val intervals = Seq(
      (ts(9, 0), ts(10, 30)),  // contains all 3
      (ts(10, 0), ts(11, 0)),  // contains 1
      (ts(20, 0), ts(21, 30))  // empty, spans 2 buckets
    ).toDF("ws", "we")
    val got = IntervalJoin.countPerInterval(points, "ts", intervals,
        "ws", "we", col("event_id"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(2))).toMap
    assert(got === Map(ts(9, 0) -> 3L, ts(10, 0) -> 1L, ts(20, 0) -> 0L))
  }

  test("randomized: bucketed join ≡ brute force over seeded point/interval soups") {
    val rnd = new scala.util.Random(20260814L)
    (1 to 3).foreach { _ =>
      val points = (1 to 120).map { i =>
        (i.toLong, Timestamp.valueOf(
          f"2024-03-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"))
      }.toDF("event_id", "ts")
      val intervals = (1 to 25).map { _ =>
        val h = rnd.nextInt(22); val m = rnd.nextInt(60)
        val start = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
        val lenMin = 1 + rnd.nextInt(180)
        val end = new Timestamp(start.getTime + lenMin * 60000L)
        (start, end)
      }.toDF("ws", "we").distinct()
      assert(counts(bucketed(points, intervals)) === brute(points, intervals))
    }
  }

  test("a date_trunc-only bucket unit is rejected up front, not at explode time") {
    // "quarter" is a valid date_trunc unit but NOT an INTERVAL literal
    // unit — unvalidated it would throw a ParseException deep inside
    // the covered-buckets explode
    val points = Seq((1L, ts(9, 30))).toDF("event_id", "ts")
    val intervals = Seq((ts(9, 0), ts(10, 0))).toDF("ws", "we")
    val e = intercept[IllegalArgumentException] {
      bucketed(points, intervals, bucket = "quarter")
    }
    assert(e.getMessage.contains("not a supported unit"))
  }

  test("degenerate intervals (end <= start) yield zero matches, not a runtime error") {
    val points = Seq((1L, ts(9, 30))).toDF("event_id", "ts")
    val intervals = Seq(
      (ts(9, 0), ts(9, 0)),   // zero-length
      (ts(10, 0), ts(9, 0)),  // inverted
      (ts(9, 0), ts(10, 0))   // real — still matches
    ).toDF("ws", "we")
    // [start, end) with end <= start covers nothing — the sequence()
    // guard must turn these into empty bucket arrays, not throw
    // "Illegal sequence boundaries" — and the report still lists them
    val got = counts(bucketed(points, intervals))
    assert(got === brute(points, intervals))
    assert(got === Map(
      (ts(9, 0), ts(9, 0)) -> 0L,
      (ts(10, 0), ts(9, 0)) -> 0L,
      (ts(9, 0), ts(10, 0)) -> 1L))
  }

  test("interval ending exactly on a bucket boundary doesn't leak a bucket") {
    val points = Seq((1L, ts(11, 0))).toDF("event_id", "ts")
    val intervals = Seq((ts(10, 0), ts(11, 0))).toDF("ws", "we")
    // [10:00, 11:00) must not count a point at exactly 11:00
    assert(counts(bucketed(points, intervals)) ===
      Map((ts(10, 0), ts(11, 0)) -> 0L))
  }

  test("duplicate interval rows each report their own (un-doubled) count") {
    // the same window recorded twice (e.g. once per host) must yield
    // two rows of 3, not one merged row of 6
    val points = Seq((1L, ts(10, 10)), (2L, ts(10, 20)), (3L, ts(10, 40)))
      .toDF("event_id", "ts")
    val intervals = Seq((ts(10, 0), ts(11, 0)), (ts(10, 0), ts(11, 0)))
      .toDF("ws", "we")
    val got = IntervalJoin.countPerInterval(points, "ts", intervals,
        "ws", "we", col("event_id"))
      .collect().map(_.getLong(2)).toSeq
    assert(got === Seq(3L, 3L),
      s"duplicate intervals merged/double-counted: $got")
  }
}
