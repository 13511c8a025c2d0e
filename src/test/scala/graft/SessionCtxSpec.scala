package graft

import org.apache.spark.sql.functions._

import graft.core.{QueryHistory, SessionCtx}
import graft.flow.{TaskDef, TaskGraph}
import graft.pii.Masking

/** F10 session/metadata surface (SessionCtx + QueryHistory +
  * TaskGraph.showTasks): the reference's worksheet patterns —
  * `set myname = current_user(); grant role ... to user
  * identifier($myname)` (A4:47-51) and `show tasks; ... from
  * table(result_scan(last_query_id()))` (A4:641-643) — must replay
  * end to end, with the session role driving the existing masking
  * tier. */
class SessionCtxSpec extends SparkSuite {
  import spark.implicits._

  test("current_user -> set -> identifier($var) -> grant: the A4:47-51 flow") {
    val ctx = new SessionCtx(user = "prof_merlin", initialRole = "ACCOUNTADMIN")
    // set myname = current_user()
    ctx.set("myname", ctx.currentUser)
    assert(ctx.variable("myname") === Some("prof_merlin"))
    // grant role Data_ENG to user identifier($myname)
    ctx.grantRole("Data_ENG", ctx.identifier("$myname"))
    assert(ctx.hasRole("prof_merlin", "Data_ENG"))
    assert(!ctx.hasRole("someone_else", "Data_ENG"))
    // bare identifiers pass through; unset variables fail loudly
    assert(ctx.identifier("Data_ENG") === "Data_ENG")
    val e = intercept[IllegalArgumentException](ctx.identifier("$nope"))
    assert(e.getMessage.contains("nope"))
  }

  test("useRole enforces grants and drives the masking tier") {
    val ctx = new SessionCtx(user = "ana", initialRole = "PUBLIC")
    intercept[IllegalArgumentException](ctx.useRole("analyst"))
    ctx.grantRole("analyst", "ana").useRole("analyst")
    assert(ctx.currentRole === "analyst")
    // the session role selects the mask — the p02-p04 policy applied
    // through the session instead of a hardcoded role string
    val cards = Seq("4532015112830366").toDF("card")
    val masked = cards.select(
      Masking.maskPan(col("card"), ctx.currentRole).as("m"))
      .head().getString(0)
    assert(masked.endsWith("0366") && masked.count(_ == '*') > 0,
      s"analyst mask: $masked")
    // a role nobody granted cannot silently weaken the mask
    intercept[IllegalArgumentException](ctx.useRole("admin"))
  }

  test("show tasks -> result_scan(last_query_id()): the A4:641-643 flow") {
    val g = new TaskGraph(() => new java.sql.Timestamp(0L))
    g.add(TaskDef("PIPE3_ROOT", body = () => ()))
      .add(TaskDef("PIPE3_GEN_A", after = Seq("PIPE3_ROOT"), body = () => ()))
    g.resume("PIPE3_ROOT")
    val hist = new QueryHistory(spark,
      java.nio.file.Files.createTempDirectory("qh").toString)
    // show tasks; select "name", "state" from table(result_scan(last_query_id()))
    hist.run(g.showTasks(spark))
    val states = hist.resultScan(hist.lastQueryId())
      .select("name", "state").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(states === Map("PIPE3_ROOT" -> "started",
      "PIPE3_GEN_A" -> "suspended"))
    // the replay is a materialized RESULT, not a live view: suspending
    // the task after the fact must not rewrite history
    g.suspend("PIPE3_ROOT")
    val replay = hist.resultScan(hist.lastQueryId())
      .filter(col("name") === "PIPE3_ROOT").head().getString(1)
    assert(replay === "started")
  }

  test("query history is a bounded ring; evicted ids fail loudly") {
    val hist = new QueryHistory(spark,
      java.nio.file.Files.createTempDirectory("qh_ring").toString, keep = 2)
    intercept[IllegalStateException](hist.lastQueryId())
    val (id1, _) = hist.run(Seq(1).toDF("a"))
    val (id2, _) = hist.run(Seq(2).toDF("a"))
    val (id3, r3) = hist.run(Seq(3).toDF("a"))
    assert(hist.lastQueryId() === id3)
    assert(r3.head().getInt(0) === 3)
    assert(hist.resultScan(id2).head().getInt(0) === 2)
    val e = intercept[IllegalArgumentException](hist.resultScan(id1))
    assert(e.getMessage.contains("evicted") || e.getMessage.contains("unknown"))
  }
}
