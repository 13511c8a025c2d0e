package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dq.DqChecks

/** The reference's DQ/governance macro-operators (SURVEY.md §2.11 G1-G9,
  * A4:731-930) exercised over the driver test tables as declared queries,
  * each via the [[graft.dq.DqChecks]] library so the oracle checks the
  * *library* semantics, not ad-hoc query code.
  */
object GovernanceQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** G1 duplicate detection (A4:738-742). */
  def g01Duplicates(s: SparkSession, dir: String): DataFrame =
    DqChecks.duplicates(t(s, dir, "lineitem"), Seq("l_orderkey"))
      .orderBy("l_orderkey")

  /** G2 range/staleness validation (A4:744-747): value out of bounds or
    * null, timestamp null or after the (explicit, reproducible) as-of
    * instant. */
  def g02RangeViolations(s: SparkSession, dir: String): DataFrame =
    DqChecks.rangeViolations(t(s, dir, "events"), "value", 0.5, 99.5,
        "ts", lit("2024-06-01 00:00:00").cast("timestamp"))
      .select("event_id").orderBy("event_id")

  /** G3 null-count profile in one pass (A4:749-756). */
  def g03NullProfile(s: SparkSession, dir: String): DataFrame =
    DqChecks.nullProfile(t(s, dir, "events"),
        Seq("user_id", "event_type", "value", "props"))
      .orderBy("metric_name")

  /** G4 regex format validation (A4:758-760). */
  def g04FormatViolations(s: SparkSession, dir: String): DataFrame =
    DqChecks.formatViolations(t(s, dir, "events"), "event_type",
        "^(click|view|purchase|signup)$")
      .select("event_id").orderBy("event_id")

  /** G5 sigma-outlier detection (A4:762-769) over the per-user event-count
    * distribution (the base columns are uniform — no sigma tail). */
  def g05SigmaOutliers(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    DqChecks.sigmaOutliers(perUser, "n", nSigma = 2.0)
      .select("user_id", "n").orderBy("user_id")
  }

  /** G6 completeness/validity metric batch (A4:786-823): three ratio
    * metrics over customer in ONE aggregation pass, unpivoted. */
  def g06MetricsBatch(s: SparkSession, dir: String): DataFrame =
    DqChecks.metricsBatch(t(s, dir, "customer"), "customer", Seq(
        "positive_bal" -> (col("c_acctbal") > 0),
        "non_null_segment" -> col("c_mktsegment").isNotNull,
        "name_format_ok" -> col("c_name").rlike("^Customer#[0-9]{9}$")))
      .orderBy("metric_name")

  /** G7 latest-value-per-metric dashboard (A4:824-836): newest hourly
    * ingest-rate metric row via the QUALIFY rewrite. */
  def g07LatestMetric(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("computed_at"))
      .agg(count(lit(1)).cast("double").as("metric_value"))
      .select(lit("ingest").as("metric_group"),
        lit("rows_per_hour").as("metric_name"),
        col("metric_value"), col("computed_at"))
    DqChecks.latestPerMetric(m).orderBy("metric_name")
  }

  /** G8 threshold alerting (A4:901-918): metric batch joined to an inline
    * threshold table; alert rows where metric < threshold. Thresholds are
    * chosen so exactly the non_null_segment alert fires regardless of data
    * (ratios are always in [0,1]). */
  def g08ThresholdAlerts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val metrics = DqChecks.metricsBatch(t(s, dir, "customer"), "customer",
      Seq("positive_bal" -> (col("c_acctbal") > 0),
        "non_null_segment" -> col("c_mktsegment").isNotNull))
    val thresholds = Seq(("positive_bal", 0.0), ("non_null_segment", 1.01))
      .toDF("metric_name", "threshold")
    DqChecks.thresholdAlerts(metrics, thresholds)
      .select("metric_name", "metric_group", "metric_value", "threshold")
      .orderBy("metric_name")
  }

  /** G9 hourly metric trend (A4:924-930). */
  def g09HourlyTrend(s: SparkSession, dir: String): DataFrame =
    DqChecks.hourlyTrend(t(s, dir, "events"), "ts",
        Seq(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value")))
      .orderBy("bucket_hour")

  /** G10-style referential integrity: orphan counts for the schema's
    * three foreign-key relationships via LEFT ANTI joins. All-zero is
    * the expected healthy report. */
  def g10RefIntegrity(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    DqChecks.orphanCount(t(s, dir, "events"), "user_id", c, "c_custkey",
        "events_customer")
      .unionByName(DqChecks.orphanCount(t(s, dir, "lineitem"), "l_orderkey",
        o, "o_orderkey", "lineitem_orders"))
      .unionByName(DqChecks.orphanCount(o, "o_custkey", c, "c_custkey",
        "orders_customer"))
      .orderBy("relationship")
  }

  /** ANALYZE-style stats over customer's numeric columns. */
  def g11TableStats(s: SparkSession, dir: String): DataFrame =
    DqChecks.numericProfile(t(s, dir, "customer"),
        Seq("c_acctbal", "c_custkey", "c_nationkey"))
      .orderBy("column_name")

  /** Robust (MAD-based) outlier screen — the heavy-tail-safe sibling of
    * the 3σ rule (g05): |x − median| > 3·1.4826·MAD. Mean/stddev move
    * with the outliers they hunt; median/MAD don't (50% breakdown).
    *
    * SKETCH-tier percentiles (GK `percentile_approx`, accuracy 2000 →
    * 5e-4 worst-case rank error): an exact interpolated percentile is a
    * TypedImperative aggregate whose final merge buffers every value —
    * a guaranteed OOM at 100 TB — while the GK sketch is fixed-size
    * mergeable state. Correctness is gated the q53 way: each estimate's
    * EXACT rank (two conditional counts, map-side combined) must land
    * inside the ±0.005 band around its target, so the oracle asserts
    * the guarantee literally and the gate is deterministic. Three
    * single-column passes: median sketch, MAD sketch around it (the
    * scalar rides along as a broadcast), then one counting scan that
    * yields both rank gates.
    *
    * The declared columns are the engine-invariant ones — n_total,
    * ok_med, ok_mad (sketch estimates themselves have no cross-engine
    * twin); DqChecksSpec asserts that the screen at the same sketch
    * thresholds counts what the exact-percentile twin counts at spec
    * scale. */
  def g12MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.005
    val x = col("l_extendedprice")
    val li = t(s, dir, "lineitem").select(x)
    val med = li.agg(percentile_approx(x, lit(0.5), lit(2000)).as("med"),
      count(lit(1)).as("n"))
    val dev = li.crossJoin(broadcast(med))
      .agg(percentile_approx(abs(x - col("med")), lit(0.5), lit(2000)).as("mad"),
        first(col("med")).as("med"), first(col("n")).as("n"))
    li.crossJoin(broadcast(dev))
      .agg(
        sum((x < col("med")).cast("long")).as("__lo_m"),
        sum((x <= col("med")).cast("long")).as("__hi_m"),
        sum((abs(x - col("med")) < col("mad")).cast("long")).as("__lo_d"),
        sum((abs(x - col("med")) <= col("mad")).cast("long")).as("__hi_d"),
        first(col("n")).as("n_total"))
      .select(col("n_total"),
        ((col("__lo_m").cast("double") <= col("n_total") * (0.5 + eps)) &&
          (col("__hi_m").cast("double") >= col("n_total") * (0.5 - eps)))
          .cast("int").as("ok_med"),
        ((col("__lo_d").cast("double") <= col("n_total") * (0.5 + eps)) &&
          (col("__hi_d").cast("double") >= col("n_total") * (0.5 - eps)))
          .cast("int").as("ok_mad"))
  }

  /** Benford first-digit screen over order totals — the classic
    * fabricated-amounts detector: observed leading-digit frequencies
    * against log10(1 + 1/d). The digit comes from PURE ARITHMETIC
    * (x / 10^floor(log10 x)), not string formatting, so any engine
    * replays it bit-for-bit; one grouped count plus a 9-row window
    * ratio. */
  def g13Benford(s: SparkSession, dir: String): DataFrame = {
    val x = col("o_totalprice")
    val digit = floor(x / pow(lit(10.0), floor(log10(x)))).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    t(s, dir, "orders").filter(x > 0)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
      .withColumn("obs_p",
        round(col("n").cast("double") / sum(col("n")).over(w), 4))
      .withColumn("exp_p",
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 4))
      .orderBy("digit")
  }

  /** k-anonymity measurement over the customer quasi-identifiers
    * (nation × market segment): the smallest equivalence class IS the
    * dataset's k — the number every release-review asks for before a
    * data share (the metric behind Masking's generalization ops). One
    * grouped count + one min; also reports how many classes sit below
    * k=5, the re-identification hot spots. */
  def g14KAnonymity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("class_size"))
      .agg(min(col("class_size")).as("k"),
        count(lit(1)).as("n_classes"),
        sum((col("class_size") < 5).cast("long")).as("n_below_5"))

  /** Shannon entropy + Gini impurity of the event-type distribution —
    * the information-theoretic column profile (a near-zero entropy
    * column is constant-in-disguise; a max-entropy id-like column is a
    * useless grouping key). Grouped counts, then one tiny aggregate
    * over the category rows. */
  def g15Entropy(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n"))
    val total = g.agg(sum("n").as("tot"))
    g.crossJoin(broadcast(total))
      .select((col("n").cast("double") / col("tot")).as("p"))
      .agg(round(-sum(col("p") * log2(col("p"))), 4).as("entropy_bits"),
        round(lit(1.0) - sum(col("p") * col("p")), 4).as("gini"))
  }

  /** Distribution-drift screen (PSI) of event values, week-1 baseline
    * vs the rest of the month, per event type — the check a serving or
    * ingest pipeline runs before trusting "this week looks like last
    * week". [[graft.dq.DqChecks.psiDrift]]. */
  def g16PsiDrift(s: SparkSession, dir: String): DataFrame =
    DqChecks.psiDrift(t(s, dir, "events"), "event_type", "value",
        col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"), nBins = 10)
      .orderBy("event_type")

  /** Categorical drift of the event-type MIX, week-1 baseline vs the
    * rest of the month — the class-balance check a labeler/router
    * pipeline runs (a category the baseline never saw lands in the
    * `__OTHER__` bucket and carries drift mass).
    * [[graft.dq.DqChecks.psiDriftCategorical]]. */
  def g17CatDrift(s: SparkSession, dir: String): DataFrame =
    DqChecks.psiDriftCategorical(
        t(s, dir, "events").withColumn("segment", lit("event_type_mix")),
        "segment", "event_type",
        col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"))
      .orderBy("segment")

  /** Functional-dependency profile ([[DqChecks.fdViolations]]) over a
    * candidate set mixing FDs that HOLD (primary-key determinants) with
    * FDs that are heavily violated (behavioral columns) — the check is
    * only trustworthy if it separates the two. */
  def g18FdProfile(s: SparkSession, dir: String): DataFrame =
    DqChecks.fdViolations(t(s, dir, "events"), "events",
        Seq("user_id" -> "event_type", "event_id" -> "event_type"))
      .unionByName(DqChecks.fdViolations(t(s, dir, "orders"), "orders",
        Seq("o_orderkey" -> "o_orderstatus",
          "o_custkey" -> "o_orderpriority")))
      .orderBy("fd")

  /** Cross-table reconciliation ([[DqChecks.reconcileRollup]]): order
    * header totals vs the sum of their lineitem extended prices — the
    * fact/rollup audit. (On the driver testdata the generator does NOT
    * maintain the invariant, so the report SHOWS the inconsistency —
    * which is the check working, not failing.) */
  def g19Reconcile(s: SparkSession, dir: String): DataFrame =
    DqChecks.reconcileRollup(
      t(s, dir, "orders"), "o_orderkey", col("o_totalprice"),
      t(s, dir, "lineitem"), "l_orderkey", col("l_extendedprice"),
      tol = 0.01)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g19_reconcile" -> g19Reconcile,
    "g18_fd_profile" -> g18FdProfile,
    "g01_duplicates" -> g01Duplicates,
    "g02_range_violations" -> g02RangeViolations,
    "g03_null_profile" -> g03NullProfile,
    "g04_format_violations" -> g04FormatViolations,
    "g05_sigma_outliers" -> g05SigmaOutliers,
    "g06_metrics_batch" -> g06MetricsBatch,
    "g07_latest_metric" -> g07LatestMetric,
    "g08_threshold_alerts" -> g08ThresholdAlerts,
    "g09_hourly_trend" -> g09HourlyTrend,
    "g10_ref_integrity" -> g10RefIntegrity,
    "g11_table_stats" -> g11TableStats,
    "g12_mad_outliers" -> g12MadOutliers,
    "g13_benford" -> g13Benford,
    "g14_k_anonymity" -> g14KAnonymity,
    "g15_entropy" -> g15Entropy,
    "g16_psi_drift" -> g16PsiDrift,
    "g17_cat_drift" -> g17CatDrift,
  )

  val oracles: Map[String, String] = Map(
    "g19_reconcile" ->
      ("""WITH sums AS (
        |  SELECT l_orderkey AS o_orderkey, SUM(l_extendedprice) AS s
        |  FROM lineitem GROUP BY 1),
        |cls AS (
        |  SELECT CASE WHEN s IS NULL THEN 'no_detail'
        |              WHEN ABS(o_totalprice - s) <= 0.01 THEN 'matched'
        |              ELSE 'mismatched' END AS recon_status,
        |    ABS(o_totalprice - s) AS diff
        |  FROM orders LEFT JOIN sums USING (o_orderkey))
        |SELECT recon_status, CAST(count(*) AS BIGINT) AS n_keys,
        |  ROUND(COALESCE(MAX(diff), 0.0), 2) AS max_abs_diff
        |FROM cls GROUP BY recon_status ORDER BY recon_status""".stripMargin),
    "g18_fd_profile" ->
      ("""WITH f1 AS (SELECT user_id AS det, count(DISTINCT event_type) AS ndv FROM events GROUP BY 1),
        |f2 AS (SELECT event_id AS det, count(DISTINCT event_type) AS ndv FROM events GROUP BY 1),
        |f3 AS (SELECT o_orderkey AS det, count(DISTINCT o_orderstatus) AS ndv FROM orders GROUP BY 1),
        |f4 AS (SELECT o_custkey AS det, count(DISTINCT o_orderpriority) AS ndv FROM orders GROUP BY 1)
        |SELECT 'events.user_id->event_type' AS fd, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(MAX(ndv) AS BIGINT) AS max_fanout FROM f1
        |UNION ALL
        |SELECT 'events.event_id->event_type', CAST(count(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(MAX(ndv) AS BIGINT) FROM f2
        |UNION ALL
        |SELECT 'orders.o_orderkey->o_orderstatus', CAST(count(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(MAX(ndv) AS BIGINT) FROM f3
        |UNION ALL
        |SELECT 'orders.o_custkey->o_orderpriority', CAST(count(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(MAX(ndv) AS BIGINT) FROM f4
        |ORDER BY fd""".stripMargin),
    "g17_cat_drift" ->
      ("""WITH b AS (
        |  SELECT COALESCE(CAST(event_type AS VARCHAR), '__NULL__') AS bin, CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1),
        |slots0 AS (SELECT bin, nb FROM b UNION ALL SELECT '__OTHER__', 0),
        |cur AS (
        |  SELECT CASE WHEN b2.bin IS NOT NULL THEN c.bin ELSE '__OTHER__' END AS bin
        |  FROM (SELECT COALESCE(CAST(event_type AS VARCHAR), '__NULL__') AS bin
        |        FROM events WHERE NOT (ts < TIMESTAMP '2024-01-08 00:00:00')) c
        |  LEFT JOIN b b2 ON b2.bin = c.bin),
        |cc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nc FROM cur GROUP BY 1),
        |d AS (
        |  SELECT s.bin, s.nb, COALESCE(cc.nc, 0) AS nc,
        |    SUM(s.nb) OVER () AS tb, SUM(COALESCE(cc.nc, 0)) OVER () AS tc,
        |    COUNT(*) OVER () AS ns
        |  FROM slots0 s LEFT JOIN cc USING (bin)),
        |contrib AS (
        |  SELECT bin, tb, tc,
        |    ((nc + 0.5) / (CAST(tc AS DOUBLE) + 0.5 * ns) - (nb + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * ns))
        |      * LN(((nc + 0.5) / (CAST(tc AS DOUBLE) + 0.5 * ns)) / ((nb + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * ns))) AS c
        |  FROM d)
        |SELECT 'event_type_mix' AS segment,
        |  CAST(MIN(tb) AS BIGINT) AS n_base, CAST(MIN(tc) AS BIGINT) AS n_cur,
        |  ROUND(list_sum(list(c ORDER BY bin)), 4) AS psi
        |FROM contrib""".stripMargin),
    "g16_psi_drift" ->
      ("""WITH b AS (
        |  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1),
        |cnt AS (
        |  SELECT e.event_type,
        |    CASE WHEN e.value IS NOT NULL AND (b.hi - b.lo)/10 > 0
        |         THEN CAST(LEAST(9, GREATEST(0, FLOOR((e.value - b.lo) / ((b.hi - b.lo)/10)))) AS INT)
        |         WHEN e.value IS NOT NULL AND ROUND(e.value, 9) = ROUND(b.lo, 9) THEN 0
        |         WHEN e.value IS NOT NULL THEN 9 END AS bin,
        |    CAST(SUM(CASE WHEN e.ts < TIMESTAMP '2024-01-08 00:00:00' THEN 1
        |             WHEN NOT (e.ts < TIMESTAMP '2024-01-08 00:00:00') THEN 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN e.ts < TIMESTAMP '2024-01-08 00:00:00' THEN 0
        |             WHEN NOT (e.ts < TIMESTAMP '2024-01-08 00:00:00') THEN 1 END) AS BIGINT) AS nc
        |  FROM events e JOIN b USING (event_type) GROUP BY 1, 2),
        |slots AS (
        |  SELECT b.event_type, t.j AS bin, COALESCE(cnt.nb, 0) AS nb, COALESCE(cnt.nc, 0) AS nc
        |  FROM b CROSS JOIN (SELECT CAST(range AS INT) AS j FROM range(10)) t
        |  LEFT JOIN cnt ON cnt.event_type = b.event_type AND cnt.bin = t.j),
        |dens AS (
        |  SELECT event_type, bin, nb, nc,
        |    SUM(nb) OVER (PARTITION BY event_type) AS tb,
        |    SUM(nc) OVER (PARTITION BY event_type) AS tc
        |  FROM slots),
        |contrib AS (
        |  SELECT event_type, bin, tb, tc,
        |    ((nc + 0.5) / (CAST(tc AS DOUBLE) + 5.0) - (nb + 0.5) / (CAST(tb AS DOUBLE) + 5.0))
        |      * LN(((nc + 0.5) / (CAST(tc AS DOUBLE) + 5.0)) / ((nb + 0.5) / (CAST(tb AS DOUBLE) + 5.0))) AS c
        |  FROM dens)
        |SELECT event_type, CAST(MIN(tb) AS BIGINT) AS n_base, CAST(MIN(tc) AS BIGINT) AS n_cur,
        |  ROUND(list_sum(list(c ORDER BY bin)), 4) AS psi
        |FROM contrib GROUP BY event_type ORDER BY event_type""".stripMargin),
    "g14_k_anonymity" ->
      ("""WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(MIN(class_size) AS BIGINT) AS k,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_5
        |FROM g""".stripMargin),
    "g15_entropy" ->
      ("""WITH g AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        |p AS (SELECT CAST(n AS DOUBLE) / (SELECT SUM(n) FROM g) AS p FROM g)
        |SELECT ROUND(-SUM(p * LOG2(p)), 4) AS entropy_bits,
        |  ROUND(1.0 - SUM(p * p), 4) AS gini
        |FROM p""".stripMargin),
    "g13_benford" ->
      ("""WITH g AS (
        |  SELECT CAST(FLOOR(o_totalprice / POWER(10.0, FLOOR(LOG10(o_totalprice)))) AS INT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice > 0 GROUP BY 1)
        |SELECT digit, n,
        |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 4) AS obs_p,
        |  ROUND(LOG10(1.0 + 1.0 / digit), 4) AS exp_p
        |FROM g ORDER BY digit""".stripMargin),
    "g12_mad_outliers" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_total, " +
        "1 AS ok_med, 1 AS ok_mad FROM lineitem"),
    "g01_duplicates" ->
      "SELECT l_orderkey, COUNT(*) AS n_dups FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1 ORDER BY l_orderkey",
    "g02_range_violations" ->
      "SELECT event_id FROM events WHERE value IS NULL OR value < 0.5 OR value > 99.5 OR ts IS NULL OR ts > TIMESTAMP '2024-06-01 00:00:00' ORDER BY event_id",
    "g03_null_profile" ->
      ("SELECT 'null_event_type' AS metric_name, CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS metric_value FROM events " +
        "UNION ALL SELECT 'null_props', CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events " +
        "UNION ALL SELECT 'null_user_id', CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events " +
        "UNION ALL SELECT 'null_value', CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events " +
        "ORDER BY metric_name"),
    "g04_format_violations" ->
      "SELECT event_id FROM events WHERE NOT regexp_matches(event_type, '^(click|view|purchase|signup)$') OR event_type IS NULL ORDER BY event_id",
    "g05_sigma_outliers" ->
      "WITH pu AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id) SELECT user_id, n FROM pu CROSS JOIN (SELECT AVG(n) m, STDDEV(n) sd FROM pu) s WHERE pu.n > s.m + 2*s.sd OR pu.n < s.m - 2*s.sd ORDER BY user_id",
    "g06_metrics_batch" ->
      ("SELECT 'customer' AS metric_group, 'name_format_ok' AS metric_name, ROUND(AVG(CASE WHEN regexp_matches(c_name, '^Customer#[0-9]{9}$') THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END), 6) AS metric_value FROM customer " +
        "UNION ALL SELECT 'customer', 'non_null_segment', ROUND(AVG(CASE WHEN c_mktsegment IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END), 6) FROM customer " +
        "UNION ALL SELECT 'customer', 'positive_bal', ROUND(AVG(CASE WHEN c_acctbal > 0 THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END), 6) FROM customer " +
        "ORDER BY metric_name"),
    "g07_latest_metric" ->
      ("WITH m AS (SELECT date_trunc('hour', ts) AS computed_at, CAST(COUNT(*) AS DOUBLE) AS metric_value FROM events GROUP BY date_trunc('hour', ts)) " +
        "SELECT 'ingest' AS metric_group, 'rows_per_hour' AS metric_name, metric_value, computed_at FROM m " +
        "QUALIFY row_number() OVER (ORDER BY computed_at DESC) = 1 ORDER BY metric_name"),
    "g08_threshold_alerts" ->
      ("WITH m AS (SELECT 'customer' AS metric_group, 'positive_bal' AS metric_name, ROUND(AVG(CASE WHEN c_acctbal > 0 THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END), 6) AS metric_value FROM customer " +
        "UNION ALL SELECT 'customer', 'non_null_segment', ROUND(AVG(CASE WHEN c_mktsegment IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END), 6) FROM customer), " +
        "th AS (SELECT * FROM (VALUES ('positive_bal', CAST(0.0 AS DOUBLE)), ('non_null_segment', CAST(1.01 AS DOUBLE))) AS t(metric_name, threshold)) " +
        "SELECT m.metric_name, m.metric_group, m.metric_value, th.threshold FROM m JOIN th ON m.metric_name = th.metric_name " +
        "WHERE m.metric_value < th.threshold ORDER BY m.metric_name"),
    "g09_hourly_trend" ->
      "SELECT date_trunc('hour', ts) AS bucket_hour, COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value FROM events GROUP BY date_trunc('hour', ts) ORDER BY bucket_hour",
    "g11_table_stats" -> {
      def one(c: String) =
        s"SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
          s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
          s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv, " +
          s"CAST(MIN($c) AS DOUBLE) AS min_val, CAST(MAX($c) AS DOUBLE) AS max_val " +
          "FROM customer"
      Seq("c_acctbal", "c_custkey", "c_nationkey").map(one)
        .mkString("", " UNION ALL ", " ORDER BY column_name")
    },
    "g10_ref_integrity" ->
      ("SELECT 'events_customer' AS relationship, CAST(COUNT(*) AS BIGINT) AS n_orphans FROM events e WHERE e.user_id IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id) " +
        "UNION ALL SELECT 'lineitem_orders', CAST(COUNT(*) AS BIGINT) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) " +
        "UNION ALL SELECT 'orders_customer', CAST(COUNT(*) AS BIGINT) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey) " +
        "ORDER BY relationship"),
  )
}
