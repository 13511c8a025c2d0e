package graft.core

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** F10 — the session/metadata surface the reference drives its
  * worksheets with (A4:47-51 `set myname = current_user(); grant role
  * ... to user identifier($myname)`; A4:641-643 `show tasks; ...
  * result_scan(last_query_id())`), re-expressed as an explicit context
  * object instead of engine-global mutable state: Spark has no
  * ambient "current user/role" the way a Snowflake session does, and
  * an injectable context is the testable form of one (the TaskGraph
  * clock discipline).
  *
  * Three pieces, matching the reference's three usages:
  *  - identity + role: [[currentUser]]/[[currentRole]] (column forms
  *    included), a grants ledger (`GRANT ROLE r TO USER u`), and
  *    [[useRole]] which enforces the grant — the role then feeds the
  *    existing role-based masking tier
  *    ([[graft.pii.Masking.maskPan]]);
  *  - session VARIABLES: `set`/`unset`, and [[identifier]] resolving
  *    `$var` references to the bound name (unset references fail
  *    LOUDLY — a silently-empty identifier would grant to nobody or
  *    read a wrong table);
  *  - query-result replay: [[QueryHistory]] below.
  *
  * Everything here is driver-side metadata — counts bounded by roles ×
  * users and variable names, never data-scale. */
final class SessionCtx(val user: String, initialRole: String = "PUBLIC") {

  private var role: String = initialRole
  private val vars = mutable.LinkedHashMap.empty[String, String]
  private val grants = mutable.Set.empty[(String, String)] // (role, user)

  def currentUser: String = user
  def currentRole: String = role

  /** `GRANT ROLE r TO USER u` (A4:50). Idempotent, like the DDL. */
  def grantRole(r: String, u: String): this.type = { grants += ((r, u)); this }
  def hasRole(u: String, r: String): Boolean =
    r == initialRole || grants((r, u))

  /** `USE ROLE r` — only a granted role (or the session's initial one)
    * can be assumed; anything else fails loudly like Snowflake's
    * "role not granted" instead of silently switching the masking
    * posture. */
  def useRole(r: String): this.type = {
    require(hasRole(user, r),
      s"useRole: role '$r' is not granted to user '$user'")
    role = r
    this
  }

  /** `SET name = value`. */
  def set(name: String, value: String): this.type = {
    vars(name) = value; this
  }
  def unset(name: String): this.type = { vars -= name; this }
  def variable(name: String): Option[String] = vars.get(name)

  /** `identifier($var)` (A4:51): a `$`-prefixed reference resolves
    * through the session variables; a bare name passes through (the
    * Snowflake semantics — `identifier('literal')` is the literal).
    * An UNSET `$var` is an error, never an empty identifier. */
  def identifier(ref: String): String =
    if (ref.startsWith("$")) {
      val name = ref.drop(1)
      vars.getOrElse(name, throw new IllegalArgumentException(
        s"identifier($$$name): session variable '$name' is not set"))
    } else ref
}

/** `last_query_id()` / `result_scan(id)` (A4:643): a bounded ring of
  * materialized query results keyed by a session-scoped query id —
  * the reference's pattern is piping an introspection command's
  * result straight into SQL (`show tasks; select "name","state" from
  * table(result_scan(last_query_id()))`), and this replays it: run a
  * frame through [[run]], read it back — possibly several statements
  * later — through [[resultScan]].
  *
  * Results persist as parquet under `dir/<id>` so the re-read is a
  * plain columnar scan (and survives the source frame's caches being
  * swept); the ring keeps the newest `keep` results and deletes the
  * rest — a session's history is bounded by construction, exactly
  * like the reference's 24-hour result cache is. Result_scan of an
  * evicted or unknown id fails loudly. Materializing a corpus-sized
  * result through here would be the same mistake as result_scanning
  * one in Snowflake — command/report-sized outputs are the use case;
  * CTAS ([[Tables.ctas]]) is the data-scale path. */
final class QueryHistory(spark: SparkSession, dir: String, keep: Int = 32) {
  require(keep >= 1, s"keep ($keep) must be >= 1")
  private var seq = 0L
  private val ids = mutable.ArrayDeque.empty[String]

  /** Execute-and-record: materializes `df` under a fresh query id and
    * returns (id, replayable frame). */
  def run(df: DataFrame): (String, DataFrame) = {
    val id = f"query_$seq%06d"
    seq += 1
    df.write.mode("overwrite").parquet(s"$dir/$id")
    ids.append(id)
    while (ids.size > keep) {
      val old = ids.removeHead()
      val p = new org.apache.hadoop.fs.Path(s"$dir/$old")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    (id, resultScan(id))
  }

  def lastQueryId(): String = ids.lastOption.getOrElse(
    throw new IllegalStateException("last_query_id(): no query recorded"))

  def resultScan(id: String): DataFrame = {
    require(ids.contains(id),
      s"result_scan('$id'): unknown or evicted query id (ring keeps $keep)")
    spark.read.parquet(s"$dir/$id")
  }
}
