package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization over a static event table (beyond the
  * reference, which has no session concept). A session is a maximal
  * run of a user's events with no gap ≥ `gapMinutes` — the rule of
  * Spark's built-in `session_window`, which SessionizeSpec checks this
  * formulation against on the driver testdata. */
object Sessionize {

  /** Per-user sessions via the classic lag-break/cumulative-sum window
    * pair — one shuffle on the user key, per-user sorted scan, no state
    * machinery. Gap comparison runs on epoch MICROSECONDS (exact
    * integers, so an external oracle replays it bit-for-bit). */
  def batchSessions(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, gapMinutes: Int): DataFrame =
    withSessionIds(events, userCol, tsCol, idCol, gapMinutes)
      .groupBy(col(userCol), col("__sid").as("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"))

  /** Per-EVENT session assignment (`__sid`, 1-based per user) — the
    * ONE definition of the gap-break rule, shared by [[batchSessions]]
    * and every session-scoped analysis (e10 funnel). A session-rule
    * change here changes all of them together. */
  def withSessionIds(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    // >= : a gap of exactly gapMinutes BREAKS the session, as in
    // session_window (which merges only events strictly closer than the gap)
    val brk = when(lag(col(tsCol), 1).over(w).isNull ||
      unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w)) >= gapUs,
      lit(1L)).otherwise(lit(0L))
    events
      .withColumn("__sid", sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }
}
