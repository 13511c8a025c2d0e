package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The relational operator surface of the engine (SURVEY.md §2.12), each
  * query re-expressed with the DataFrame API so Catalyst owns the physical
  * plan (pushdown, partial aggregation, broadcast selection, top-k).
  *
  * Every function takes `(spark, sfDir)` and returns a DataFrame whose
  * column names match the DuckDB oracle SQL in [[graft.SparkEntry.oracleSql]]
  * exactly; every result carries a total ORDER BY so hashing is
  * deterministic. Reference citations per-operator are in SURVEY.md §2.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** A1 global COUNT(*) (reference: commands.sql:106). */
  def q01CountGlobal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(count(lit(1)).as("n"))

  /** A2 group-by count + ORDER BY count DESC (commands.sql:112-115). */
  def q02GroupCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_orderstatus"))

  /** A3+A4 multi-key group, multi-aggregate (A4:494-497). */
  def q03MultikeyAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(avg("l_quantity"), 4).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A5 global MIN/MAX/AVG (streamlit_buy_orders_app.py:62-69). */
  def q04MinMaxAvg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      round(min("l_extendedprice"), 4).as("mn"),
      round(max("l_extendedprice"), 4).as("mx"),
      round(avg("l_extendedprice"), 4).as("av"))

  /** A6 COUNT(DISTINCT) — exact (streamlit_buy_orders_app.py:135). */
  def q05CountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(countDistinct(col("o_custkey")).as("u"))

  /** A7 DISTINCT projection, ordered + limited (streamlit:50-59). */
  def q06DistinctLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select("c_mktsegment").distinct()
      .orderBy("c_mktsegment").limit(200)

  /** A8 conditional aggregation (A4:749-756). */
  def q07ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").agg(
      sum(when(col("c_acctbal") < 0, 1).otherwise(0)).as("neg_bal"),
      sum(when(col("c_acctbal") > 5000, 1).otherwise(0)).as("rich"))

  /** A9 AVG + STDDEV moments for 3-sigma bounds (A4:762-764). */
  def q08Moments(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      round(avg("l_quantity"), 4).as("m"),
      round(stddev("l_quantity"), 4).as("sd"))

  /** A10 HAVING on aggregate — duplicate-style detection (A4:738-742). */
  def q09Having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .filter(col("n") > 15)
      .orderBy(col("n").desc, col("o_custkey"))

  /** A11+W3 ratio-to-total via unpartitioned window (A4:489-492). */
  def q10RatioToTotal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .withColumn("pct",
        round(lit(100.0) * col("n") / sum("n").over(Window.partitionBy()), 4))
      .orderBy(col("n").desc, col("o_orderpriority"))

  /** P4 comparison predicate pushed to the scan (A4:239-244). */
  def q11FilterCompare(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_extendedprice") < 1200)
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")

  /** P5 BETWEEN range predicate (streamlit:84-89). */
  def q12Between(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_acctbal").between(100, 200))
      .select("c_custkey").orderBy("c_custkey")

  /** P6 IN-list predicate (streamlit:73-82). */
  def q13InList(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .filter(col("n_regionkey").isin(0, 2))
      .select("n_name").orderBy("n_name")

  /** P7 timestamp range with INTERVAL arithmetic (streamlit:91-100). */
  def q14TsInterval(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-10 00:00:00").cast("timestamp") +
          expr("INTERVAL 1 DAY"))
      .select("event_id").orderBy("event_id")

  /** P8 case-insensitive LIKE over an OR-chain (streamlit:102-111). */
  def q15IlikeSearch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(lower(col("c_name")).like("%00%") ||
        lower(col("c_mktsegment")).like("%ma%"))
      .select("c_custkey").orderBy("c_custkey")

  /** P9 NULL predicate (streamlit:255). */
  def q16NullPred(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("props").isNotNull)
      .agg(count(lit(1)).as("n"))

  /** P10 regex predicate (A4:758-760). */
  def q17Regex(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_name").rlike("00[0-4]$"))
      .select("c_custkey").orderBy("c_custkey").limit(100)

  /** J1 equi inner join + residual filter (A4:916-918). */
  def q18JoinInner(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").as("o")
      .join(t(s, dir, "customer").as("c"),
        col("o.o_custkey") === col("c.c_custkey"))
      .filter(col("o_totalprice") > 400000)
      .select("o_orderkey", "c_name")
      .orderBy("o_orderkey")

  /** J2+G5 scalar-aggregate cross join → sigma outliers (A4:762-769).
    * Run over the orders-per-customer distribution (the testdata's base
    * columns are uniform, so they have no sigma tail at any SF; the DQ
    * pattern in the reference likewise targets computed metrics). The
    * 1-row stats side is broadcast, so no shuffle of the counts table. */
  def q19Outlier2Sigma(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val stats = perCust.agg(avg("n").as("m"), stddev("n").as("sd"))
    // 2σ, and NAMED 2σ (the query was once published as "_3sigma" over
    // this same 2σ cut — the name lied by an order of magnitude in tail
    // mass). A true 3σ cut is provably empty on the uniform testdata's
    // smoke fixture (max z ≈ 2.5 at sf0.001), so the g05-matching 2σ
    // screen is the honest contract.
    perCust.crossJoin(broadcast(stats))
      .filter(col("n") > col("m") + lit(2) * col("sd"))
      .select("o_custkey", "n")
      .orderBy("o_custkey")
  }

  /** J3/J4 fact⋈dim join + group (data_generator.py:34-37) — the dim side
    * (nation, 25 rows) is broadcast like the 29-row car catalog. */
  def q20JoinGroup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("n_name"))

  /** O4 top-k = ORDER BY agg DESC + LIMIT (streamlit:154-163);
    * Catalyst plans TakeOrderedAndProject — no global sort. */
  def q21TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(avg("p_retailprice"), 4).as("avg_p"))
      .orderBy(col("n").desc, col("p_brand")).limit(10)

  /** O1+O3 ORDER BY ... DESC + LIMIT preview (A4:284-287). */
  def q22SortLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate")
      .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)

  /** U1 n-way UNION ALL of labeled counts (A4:480-486). */
  def q23UnionCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(count(lit(1)).as("n"))
      .select(lit("orders").as("obj"), col("n"))
      .unionAll(
        t(s, dir, "lineitem").agg(count(lit(1)).as("n"))
          .select(lit("lineitem").as("obj"), col("n")))
      .orderBy("obj")

  /** U1 UNION ALL of row sets (A4:790-794). */
  def q24UnionAll(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
    sup.filter(col("s_acctbal") > 5000).select("s_suppkey", "s_name")
      .unionAll(sup.filter(col("s_acctbal") < 0).select("s_suppkey", "s_name"))
      .orderBy("s_suppkey")
  }

  /** U3 VALUES inline table (A4:908-915). */
  def q25ValuesInline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(("a", 1.0), ("b", 0.95)).toDF("metric", "threshold").orderBy("metric")
  }

  /** U4 SELECT DISTINCT * dedup (commands.sql:126-128). */
  def q26DistinctStar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").distinct().agg(count(lit(1)).as("n"))

  /** W1/W2 latest-per-key: row_number + rn=1 — the QUALIFY rewrite
    * (A4:824-833, 902-907). */
  def q27LatestPerKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate")
      .orderBy("o_custkey").limit(100)
  }

  /** F3 substring + group (A4:947). */
  def q28SubstrGroup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(substring(col("c_name"), 10, 2).as("pfx"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pfx")).limit(20)

  /** G11 masked projection: left-4 + pad (A4:947, 983). */
  def q29MaskConcat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        concat(substring(col("c_name"), 1, 4), lit("********")).as("masked"))
      .orderBy("c_custkey").limit(50)

  /** F2 SHA-256 hashing (A4:988). */
  def q30Sha2(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), sha2(col("c_name"), 256).as("h"))
      .orderBy("c_custkey").limit(50)

  /** F4 COALESCE + CASE WHEN (batch_insert.py:77-78; A4:802). */
  def q31CaseCoalesce(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        coalesce(col("o_orderpriority"), lit("N/A")).as("pri"),
        when(col("o_totalprice") > 200000, "big").otherwise("small").as("sz"))
      .orderBy("o_orderkey").limit(100)

  /** A13/F5 date_trunc time-bucket aggregation (A4:924-930). */
  def q32DateTrunc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mo"))
      .agg(count(lit(1)).as("n"))
      .orderBy("mo")

  /** F5 datediff day arithmetic (A4:703). */
  def q33DateDiff(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        datediff(lit("1998-12-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("age_days"))
      .orderBy("o_orderkey").limit(100)

  /** F6 modulo bucketing (A4:1061). */
  def q34ModBucket(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy((col("l_orderkey") % 100).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Equi-width histogram of extended price (20 × 5000-wide buckets,
    * open-topped last bucket) — the distribution tile of every
    * monitoring dashboard (assignment5 shapes). Literal bucket bounds,
    * so the whole thing is one map-side-combined grouped count; no
    * stats pass, no second scan. */
  def q59Histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(least(floor(col("l_extendedprice") / 5000), lit(19L))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", col("bucket") * 5000)
      .orderBy("bucket")

  /** P1/F7 JSON path extraction + cast over the staging-style payload
    * column (A4:224-244). */
  def q35JsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id").limit(100)

  /** §1.3 VariantType staging: parse_json once, variant_get typed paths
    * (the Spark-4 analog of the reference's payload VARIANT staging,
    * A4:95-97) — then a grouped aggregate over the shredded column. */
  def q37VariantStage(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.query.Variants.stage(t(s, dir, "events"), "props")
    graft.query.Variants.typedView(staged, "payload",
        Seq(("$.k", "bigint", "k")))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
      .orderBy("k_bucket")
  }

  /** Batch gap sessionization ([[graft.operators.Sessionize]]):
    * 30-minute gaps over the events table. */
  def e01Sessions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.batchSessions(
        t(s, dir, "events"), "user_id", "ts", "event_id", gapMinutes = 30)
      .orderBy("user_id", "session_idx")

  /** As-of join: each event enriched with the user's latest order at or
    * before the event time (point-in-time feature lookup). */
  def e02AsofOrders(s: SparkSession, dir: String): DataFrame =
    graft.operators.AsofJoin.joinAsOf(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        t(s, dir, "orders"), "o_custkey", "o_orderdate", "o_orderkey")
      .orderBy("event_id")

  /** ROLLUP subtotal hierarchy over (priority, status) — the
    * grouping-sets tier of the aggregate surface. */
  def q38Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderpriority").as("pri"), col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(asc_nulls_first("pri"), asc_nulls_first("status"))

  /** Exact interpolated percentiles per group (median + p90) —
    * sort-based `percentile`, not the sketch-based approx variant, so
    * the oracle's quantile_cont reproduces it. */
  def q39Percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("pri"))
      .agg(round(percentile(col("o_totalprice"), lit(0.5)), 4).as("median_price"),
        round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90_price"))
      .orderBy("pri")

  /** U5 INTERSECT (set semantics): customers appearing in BOTH the
    * urgent and the low order populations. */
  def q40Intersect(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      .intersect(o.filter(col("o_orderpriority") === "5-LOW").select("o_custkey"))
      .orderBy("o_custkey")
  }

  /** U6 EXCEPT (set semantics): customers who ordered but never at
    * urgent priority. */
  def q41Except(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    // except() already has set semantics — no pre-distinct needed
    o.select("o_custkey")
      .except(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
      .orderBy("o_custkey")
  }

  /** W4 navigation/distribution window functions — lag, lead, ntile,
    * percent_rank, cume_dist, first over each customer's order timeline.
    * The (date, key) ordering is tie-free, so ranks are deterministic. */
  def q42WindowFns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        round(lag("o_totalprice", 1).over(w), 2).as("prev_price"),
        round(lead("o_totalprice", 1).over(w), 2).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"),
        first("o_orderkey").over(w).as("first_key"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** A16 CUBE grouping sets with an explicit grouping id (grouping(col)
    * per column, so the bit layout is pinned on both engines). */
  def q43Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg((grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("gid"), col("n"), col("qty"))
      .orderBy(col("gid"), asc_nulls_first("rf"), asc_nulls_first("ls"))

  /** U7 PIVOT: priorities × order-status counts as columns (the
    * conditional-aggregation rotation; explicit value list so the plan
    * needs no extra distinct pass). Nulls for absent cells are folded to
    * zero so the shape is dense. */
  def q44Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("pri"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("pri"),
        coalesce(col("F"), lit(0L)).as("st_f"),
        coalesce(col("O"), lit(0L)).as("st_o"),
        coalesce(col("P"), lit(0L)).as("st_p"))
      .orderBy("pri")

  /** Range (interval) self-join: per event, how many events the same
    * user fired in the preceding hour — burst/rate detection. The join
    * keys on user and keeps the time band as a residual range predicate;
    * at scale the equi key carries the shuffle, so the non-equi band
    * never degenerates to a cartesian. */
  def e03BurstWindow(s: SparkSession, dir: String): DataFrame = {
    // spreadByKey: the band join's input is byte-TINY (24 B/row) but
    // its output is per-user-quadratic-in-band compute — AQE's
    // size-based coalescing folded the sfgen1 join to TWO partitions
    // (10.9 s in one stage); the pinned user_id spread keeps the join
    // at full width and pre-satisfies its distribution. At real scale
    // the guard inverts: a corpus-sized events scan already splits
    // wide and the spread becomes a no-op.
    val e = graft.operators.Caches.spreadByKey(
      t(s, dir, "events").select("event_id", "user_id", "ts"),
      col("user_id"))
    e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts") < col("a.ts") &&
          col("b.ts") >= col("a.ts") - expr("INTERVAL 1 HOUR"),
        "left")
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(col("b.event_id")).as("n_prev_hour"))
      .orderBy("event_id")
  }

  /** A17 bivariate statistical aggregates — correlation, covariance,
    * and least-squares regression of price on quantity. All are
    * single-pass co-moment aggregates (partial-aggregated, one shuffle
    * of constant-size state), the same execution shape as AVG. */
  def q45StatsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("r"),
      round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4).as("cov_s"),
      round(covar_pop(col("l_extendedprice"), col("l_quantity")), 4).as("cov_p"),
      round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
      round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"))

  /** A18 ordered string aggregation (LISTAGG/STRING_AGG): the distinct
    * market segments present per nation, sorted then joined — sort
    * before join makes the result partition-order-independent. */
  def q46StringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(array_join(array_sort(collect_set(col("c_mktsegment"))), ",")
        .as("segments"))
      .orderBy("n_name")

  /** Ordered funnel analysis: users progressing view → click →
    * purchase, each step strictly after the previous one. Three
    * filtered min-aggregations chained by equi-joins on the user key —
    * every stage is key-partitioned, no window over full histories, so
    * step K's input shrinks to step K-1's survivors (the plan a funnel
    * wants at 100 TB). */
  def e04Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select("user_id", "ts", "event_type")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_ts"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("v_ts"))
      .groupBy("user_id").agg(min("ts").as("c_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("c_ts"))
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("step"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click_after_view").as("step"), col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase_after_click").as("step"), col("n_users")))
      .orderBy("step")
  }

  /** Cohort retention matrix: users grouped by first-activity week,
    * counted in each subsequent week they return. One first-touch
    * aggregate, one key-partitioned attach join, one grouped
    * count-distinct — the standard retention report. */
  def e05Cohorts(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select("user_id", "ts")
    val first = e.groupBy("user_id").agg(min("ts").as("first_ts"))
    e.join(first, "user_id")
      .groupBy(
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"),
        floor(datediff(col("ts").cast("date"), col("first_ts").cast("date")) / 7)
          .cast("long").as("week_n"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_n")
  }

  /** Seasonal anomaly detection: daily event counts per (event_type,
    * hour-of-day) cell, flagged when they sit > 2σ from that cell's own
    * across-days baseline — the g05 outlier gate made SEASONALITY-aware
    * (a 9am spike is judged against 9am history, not the all-day mean).
    * Two chained count aggregates (both map-side combined) and one
    * attach join against the |types|×24-row baseline — broadcast by
    * construction at any corpus size; the flagged value is an integer
    * count, so the 2σ comparison has no float-accumulation tie hazard. */
  def e14SeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .groupBy(col("event_type"), hour(col("ts")).as("hr"),
        col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val base = cells.groupBy("event_type", "hr")
      .agg(avg("n").as("m"), stddev_pop("n").as("sd"))
    cells.join(broadcast(base), Seq("event_type", "hr"))
      .filter(abs(col("n") - col("m")) > lit(2.0) * col("sd"))
      .select(col("event_type"), col("hr").cast("long").as("hr"),
        col("day"), col("n"))
      .orderBy("event_type", "hr", "day")
  }

  /** Max interval concurrency per user: treat each event as the
    * half-open activity interval [ts, ts+5min) and report the maximum
    * number simultaneously open — the sweep-line overlap counter
    * (resource scheduling, peak-load sizing, session-stacking). Start
    * and end edges union into ±1 deltas; a per-user ROWS-frame running
    * sum walks the sweep; ends sort BEFORE starts at the same instant
    * (delta asc) so touching intervals don't overlap. The max of the
    * running sum is invariant to ordering within a tied (edge, delta)
    * block — partial sums form the same multiset — so the result is
    * engine- and partitioning-deterministic. Key-partitioned window,
    * no global state: scales with users × events-per-user. */
  def e15MaxConcurrency(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"), col("ts"))
    val deltas = e.select(col("user_id"), col("ts").as("edge"),
        lit(1).as("d"))
      .unionByName(e.select(col("user_id"),
        (col("ts") + expr("INTERVAL 5 MINUTES")).as("edge"),
        lit(-1).as("d")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("edge"), col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    deltas.withColumn("open", sum("d").over(w))
      .groupBy("user_id")
      .agg(max("open").cast("long").as("max_concurrent"))
      .orderBy("user_id")
  }

  /** CUSUM level-shift trace per event type (Page '54): daily counts
    * minus the type's own across-days mean, accumulated in day order —
    * the classic change-point detector (a sustained rate shift drives
    * |cusum| steadily away from 0, where e14's per-cell σ gate only
    * sees isolated spikes). One daily-count aggregate, a broadcast
    * per-type mean attach, and a key-partitioned running sum — no
    * global window, scales with types × days. The full trace is
    * emitted (deterministic, threshold-free); the alert rule
    * max|cusum| > h is a trivial consumer-side filter. */
  def e16CusumShift(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val m = daily.groupBy("event_type").agg(avg("n").as("m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    daily.join(broadcast(m), "event_type")
      .withColumn("cusum", round(sum(col("n") - col("m")).over(w), 4))
      .select(col("event_type"), col("day"), col("n"), col("cusum"))
      .orderBy("event_type", "day")
  }

  /** Window-load report via the bucketed point-in-interval join
    * ([[graft.operators.IntervalJoin.countPerInterval]]): 90-minute
    * "busy windows" open at every hour with ≥ 3 purchases, and each
    * window reports how many events (of ANY type) fell inside it —
    * a point-in-interval join with NO equi key, planned as a
    * bucket-keyed equi join + residual containment instead of a
    * cartesian. Empty windows survive with count 0. */
  def e17WindowLoad(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val windows = e.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("ws"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= 3)
      .select(col("ws"), (col("ws") + expr("INTERVAL 90 MINUTES")).as("we"))
    graft.operators.IntervalJoin.countPerInterval(
        e.select(col("event_id"), col("ts")), "ts",
        windows, "ws", "we", col("event_id"))
      .select(col("ws").as("window_start"),
        col("n_points").as("n_events"))
      .orderBy("window_start")
  }

  /** One-step-ahead exponential-smoothing forecast per event type
    * (simple EMA, α = 0.3): the recursive s_d = αx_d + (1−α)s_{d−1} is
    * expanded to its closed form s_D = α·Σ_{j≥2}(1−α)^{D−j}x_j +
    * (1−α)^{D−1}x_1 — every weight ≤ 1 (numerically benign) and the
    * whole smoothing becomes ONE weighted aggregate per type over the
    * daily counts: no recursion, no sequential scan, no driver state.
    * Output per type: the last observed day, the forecast for the next
    * day, and the absolute error of the forecast against the last
    * observed value (the backtest a monitoring rule thresholds). */
  def e18EmaForecast(s: SparkSession, dir: String): DataFrame = {
    val alpha = 0.3
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    val idx = daily.withColumn("j", row_number().over(w))
    val tops = idx.groupBy("event_type")
      .agg(max("j").as("d"), max("day").as("last_day"))
    // forecast for day D+1 is s_D; the backtest error compares s_{D-1}
    // (the forecast that WAS made for day D) against x_D
    def ema(upTo: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(col("j") === 1,
          pow(lit(1 - alpha), upTo - 1) * col("n"))
        .when(col("j") <= upTo,
          lit(alpha) * pow(lit(1 - alpha), upTo - col("j")) * col("n"))
        .otherwise(lit(0.0)))
    idx.join(broadcast(tops), "event_type")
      .groupBy(col("event_type"), col("last_day"))
      .agg(round(ema(col("d")), 4).as("forecast_next"),
        round(abs(ema(col("d") - 1) -
          max(when(col("j") === col("d"), col("n")))), 4).as("backtest_abs_err"))
      .orderBy("event_type")
  }

  /** Per-type event stats THROUGH THE SALTED PATH
    * ([[graft.operators.Skew.saltedSumCount]]) — the declared query
    * that keeps the skew machinery on the driver gate, against the
    * table's genuinely hot key: `event_type` has 5 values over the
    * whole events table. Honest scope note: for PURE algebraic
    * aggregates Spark's map-side combine already collapses each hot
    * key to one partial per map task, so the unsalted twin is not
    * wall-clock-bound here — the salted rewrite is the discipline for
    * the shapes combine can't save (join-then-aggregate on a hot key,
    * collect/holistic aggregates, combine-hostile cardinalities), and
    * SkewSpec measures exactly that: per-task shuffle-read rows of the
    * hot key under the salted vs plain JOIN, where the ratio is real.
    * Sums are 6dp-decimal-exact so the salted partial order can never
    * wiggle a double (and DuckDB replays every digit). */
  def e19SaltedTypeStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedSumCount(
        t(s, dir, "events").select(col("event_type"),
          round(col("value"), 6).cast("decimal(38,6)").as("v")),
        Seq("event_type"), "v", salts = 16)
      .select(col("event_type"), col("n"),
        round(col("sum_v").cast("double"), 4).as("sum_value"))
      .orderBy("event_type")

  /** Markov transition matrix over per-user event sequences: P(next
    * event type | current), the behavioral-model fit every product
    * analytics stack computes. One lead() window per user (key-
    * partitioned sort — the sequence reconstruction), then a grouped
    * count and a from-type-partitioned ratio; nothing global, no
    * driver state, scales with users × events-per-user. */
  def e09Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val wFrom = org.apache.spark.sql.expressions.Window
      .partitionBy("from_type")
    t(s, dir, "events").select("user_id", "ts", "event_id", "event_type")
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(wFrom), 4))
      .orderBy("from_type", "to_type")
  }

  /** Session-scoped funnel: the e04 funnel rerun INSIDE 30-minute
    * sessions — view → click → purchase must complete within one
    * session, the conversion question product analytics actually asks
    * (the user-lifetime funnel overcounts). Composition of the e01
    * session assignment (per-user window) and the e04 step chain with
    * (user, session) as the funnel key; every stage stays partitioned
    * on the user key. */
  def e10SessionFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.Sessionize.withSessionIds(
        t(s, dir, "events").select("user_id", "event_id", "ts", "event_type"),
        "user_id", "ts", "event_id", gapMinutes = 30)
      .withColumnRenamed("__sid", "sid")
    val key = Seq("user_id", "sid")
    val v = e.filter(col("event_type") === "view")
      .groupBy(key.map(col): _*).agg(min("ts").as("v_ts"))
    val c = e.filter(col("event_type") === "click")
      .join(v, key).filter(col("ts") > col("v_ts"))
      .groupBy(key.map(col): _*).agg(min("ts").as("c_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, key).filter(col("ts") > col("c_ts"))
      .groupBy(key.map(col): _*).agg(min("ts").as("p_ts"))
    v.agg(count(lit(1)).as("n_sessions"))
      .select(lit("1_view").as("step"), col("n_sessions"))
      .unionByName(c.agg(count(lit(1)).as("n_sessions"))
        .select(lit("2_click_after_view").as("step"), col("n_sessions")))
      .unionByName(p.agg(count(lit(1)).as("n_sessions"))
        .select(lit("3_purchase_after_click").as("step"), col("n_sessions")))
      .orderBy("step")
  }

  /** Time-series gap detection: contiguous 10-minute windows inside
    * the events span with NO events, merged into outage RANGES — the
    * missing-data screen a freshness monitor runs (a silent ingestion
    * outage shows up as a gap, not an error). The expected spine is
    * generated from the observed min/max (tiny agg → sequence
    * explode), anti-joined against observed buckets (both sides
    * bucket-grained, span-sized, never event-sized), and consecutive
    * missing buckets fold into ranges via gaps-and-islands. Epochs
    * stay integer seconds end to end — engine-neutral, no timestamp
    * formatting in the contract. The islands window is global but runs
    * over MISSING buckets only (bounded by span/step, not data). */
  def q60GapDetection(s: SparkSession, dir: String): DataFrame = {
    val step = 600L
    val b = t(s, dir, "events")
      .select((floor(unix_timestamp(col("ts")) / step) * step)
        .cast("long").as("b"))
      .distinct()
    val span = b.agg(min("b").as("lo"), max("b").as("hi"))
    val expected = span.select(
      explode(sequence(col("lo"), col("hi"), lit(step))).as("b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
    expected.join(b, Seq("b"), "left_anti")
      .withColumn("run", col("b") / step - row_number().over(w))
      .groupBy("run")
      .agg(min("b").as("gap_start"), max("b").as("gap_end"),
        count(lit(1)).as("n_buckets"))
      .select("gap_start", "gap_end", "n_buckets")
      .orderBy("gap_start")
  }

  /** RFM customer scoring — the classic marketing segmentation:
    * recency (days since last order), frequency (order count), and
    * monetary (total spend) quintiles per customer. One grouped pass
    * over orders, then three EXACT global quintile rankings via
    * [[graft.operators.Ranks.globalNtile]] (tie-broken by customer key,
    * so every engine ranks identically). The customer-grained frame is
    * UNBOUNDED — unlike this file's other unpartitioned windows, which
    * run over bounded aggregates — so a plain `ntile().over(orderBy)`
    * would sort the whole customer population through ONE task; the
    * Ranks operator distributes the identical arithmetic (range
    * partition + per-partition rank + bounded offsets), and the ntile
    * oracle replays unchanged. */
  def e11RfmScores(s: SparkSession, dir: String): DataFrame = {
    val asOf = lit("1998-12-01").cast("date")
    val base = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(datediff(asOf, max(col("o_orderdate")).cast("date")).as("recency_days"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice")), 2).as("monetary"))
    val withR = graft.operators.Ranks.globalNtile(base, 5,
      Seq(col("recency_days"), col("custkey")), "r_score")
    val withF = graft.operators.Ranks.globalNtile(withR, 5,
      Seq(col("frequency").desc, col("custkey")), "f_score")
    val withM = graft.operators.Ranks.globalNtile(withF, 5,
      Seq(col("monetary").desc, col("custkey")), "m_score")
    withM.select("custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score")
      .orderBy("custkey")
  }

  /** PageRank centrality over the customer⇄supplier trading graph
    * ([[graft.operators.PageRank]]): bipartite edges from the
    * orders⋈lineitem fact join (node ids disjoint by parity —
    * customers even, suppliers odd), symmetrized so the random walk is
    * well-defined, then 5 damped decimal-exact power iterations. The
    * supply-chain centrality screen: which counterparties anchor the
    * trading network. */
  def e12PageRank(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    // distinct BEFORE the symmetrizing union: the deduped forward set
    // is half the union's width, and the two union branches cannot
    // collide (customer ids even, supplier ids odd — opposite key
    // parity), so the result is simple BY CONSTRUCTION and the
    // operator's own collapse is skipped (assumeSimple)
    val bip = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      .distinct()
    val edges = bip.unionByName(
      bip.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.PageRank.pageRank(edges, "src", "dst", iters = 5,
        assumeSimple = true)
      .orderBy("node")
  }

  /** BFS hop counts over the same trading graph as e12
    * ([[graft.operators.Graph.bfsHops]]): minimum hops from customer 0
    * to every counterparty within 4 — the reachability/radius probe
    * (how many intermediaries connect two parties). Frontier-expansion
    * joins, integer-exact, oracled by a recursive-CTE walk. */
  def e13BfsHops(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val bip = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
    val edges = bip.unionByName(
      bip.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.Graph.bfsHops(edges, "src", "dst", source = 0L, maxHops = 4)
      .orderBy("node")
  }

  /** SCD type-2 MERGE over the customer dimension: a deterministic
    * update batch (every 10th customer's balance moves; 20 brand-new
    * keys arrive) applied via [[graft.operators.Scd.scd2Merge]] —
    * changed versions close at the as-of date, new versions open,
    * untouched and unchanged rows pass through. */
  def q47Scd2(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val current = cust.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .withColumn("valid_from", lit("2020-01-01").cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
    val updates = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"),
        round(col("c_acctbal") + 100, 2).as("c_acctbal"), col("c_mktsegment"))
      .unionByName(cust.filter(col("c_custkey") < 20)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_acctbal"), lit("NEW").as("c_mktsegment")))
    graft.operators.Scd.scd2Merge(current, updates, "c_custkey",
        Seq("c_acctbal", "c_mktsegment"), lit("2024-06-01").cast("date"))
      .orderBy("c_custkey", "valid_from")
  }

  /** Point-in-time dimension read ([[graft.operators.Scd.asOfSnapshot]]):
    * q47's post-merge SCD2 history snapshotted at 2024-07-01 — closed
    * pre-merge versions drop out, opened versions and untouched rows
    * survive. The time-travel SELECT every SCD2 dimension exists to
    * serve, as a pure filter (no join, no window). */
  def q63AsofSnapshot(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scd.asOfSnapshot(
        q47Scd2(s, dir), lit("2024-07-01").cast("date"))
      .orderBy("c_custkey")

  /** S10+P7 composed: the q14 timestamp-range shape served from a
    * date-partitioned warehouse copy ([[Tables.ctas]] with
    * `partitionDateCol` — the `p_date` convention the retention tier
    * drops by). The declared proof that the partition seam PRUNES: the
    * scan plans `PartitionFilters` on `p_date`, so untouched days'
    * files are never listed or read (plans/q64_warehouse_prune.txt
    * snapshots the pruned scan; DatePartitionSpec additionally asserts
    * the files-read metric). Values are oracled against the RAW events
    * table — partitioning is layout, never semantics. */
  def q64WarehousePrune(s: SparkSession, dir: String): DataFrame = {
    // scratch warehouse copy keyed by SF dir AND process: two drivers
    // running concurrently against the same SF dir must not race one
    // shared path (one's mode-overwrite CTAS deleting files under the
    // other's scan). Within a process the path is stable, so repeat
    // invocations stay idempotent-overwrite and Bench's repeat runs
    // reuse the layout. The residue is one events-sized copy per
    // process under java.io.tmpdir, deleted on JVM exit.
    val scratch = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_warehouse_" + dir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_pid" + ProcessHandle.current().pid()).toString
    Tables.deleteRecursivelyOnExit(scratch)
    // reap residue from KILLED runs (SIGKILL skips the shutdown hook):
    // any sibling graft_warehouse_*_pid<N> whose pid is no longer alive
    // is dead scratch — without the sweep each killed run would leave
    // one events-sized copy behind, unbounded across CI timeouts
    Tables.reapDeadPidScratch("graft_warehouse_")
    Tables.ctas(t(s, dir, "events"), scratch, partitionDateCol = Some("ts"))
    val lo = "2024-01-10"
    val hi = "2024-01-12"
    s.read.parquet(scratch)
      .filter(col("p_date") >= lit(lo).cast("date") &&
        col("p_date") < lit(hi).cast("date") &&
        col("ts") >= lit(s"$lo 00:00:00").cast("timestamp") &&
        col("ts") < lit(s"$hi 00:00:00").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** CDC apply (ST1-ST3 materialization): a deterministic change batch
    * — updates at two sequence positions (latest wins), deletes, and
    * inserts — applied to the customer snapshot via
    * [[graft.operators.Cdc.applyChanges]]. */
  def e06ApplyChanges(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select("c_custkey", "c_acctbal", "c_mktsegment")
    def upd(mod: Int, seq: Long, add: Double) =
      cust.filter(col("c_custkey") % mod === 0)
        .select(col("c_custkey"), lit(seq).as("seq"), lit("U").as("action"),
          round(col("c_acctbal") + add, 2).as("c_acctbal"), col("c_mktsegment"))
    val dels = cust.filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey"), lit(1L).as("seq"), lit("D").as("action"),
        col("c_acctbal"), col("c_mktsegment"))
    val ins = cust.filter(col("c_custkey") < 5)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        lit(1L).as("seq"), lit("I").as("action"),
        col("c_acctbal"), lit("NEW").as("c_mktsegment"))
    val changes = upd(7, 1L, 50).unionByName(upd(14, 2L, 75))
      .unionByName(dels).unionByName(ins)
    graft.operators.Cdc.applyChanges(cust, changes, "c_custkey", "seq", "action")
      .orderBy("c_custkey")
  }

  /** A19 sketch-tier distinct count: HyperLogLog++ estimate next to the
    * exact count, gated by a ±5% property check. At 100 TB the sketch is
    * the only affordable plan — fixed-size state, one pass, mergeable
    * across partitions (no distinct expand/shuffle of the key space); the
    * exact twin exists here so the estimate is oracle-checkable: the
    * estimate is deterministic for a given dataset, so the oracle
    * recomputes the exact count and asserts the band literally.
    *
    * The two aggregates run as SEPARATE subplans joined on the group
    * key, never one `agg(countDistinct, approx_count_distinct)`: mixing
    * them makes Catalyst route the sketch through the count-distinct
    * two-phase rewrite, carrying the ~400-long HLL buffer on every
    * per-(group, key) partial row — a sketch-width shuffle of the whole
    * DISTINCT KEY SPACE, the exact cost the sketch exists to avoid
    * (measured: 1.7 s → 0.8 s at sf0.1; at 10⁹ customers it is the
    * difference between a 5-row and a multi-TB exchange). */
  def q48HllDistinct(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val exact = o.groupBy(col("o_orderpriority").as("pri"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    val est = o.groupBy(col("o_orderpriority").as("pri"))
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("__est"))
    exact.join(est, "pri")
      .select(col("pri"), col("n_exact"),
        (abs(col("__est") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.05).cast("int").as("hll_ok"))
      .orderBy("pri")
  }

  /** J5 multi-way analytic join (the TPC-H Q3 shape): segment-filtered
    * customers ⋈ date-filtered orders ⋈ later-shipped lineitems, revenue
    * per open order, top 10. Both date predicates and the segment filter
    * push into the parquet scans; c⋈o keys on custkey and o⋈l on
    * orderkey (co-partitioned shuffles AQE may flip to broadcast at low
    * SF); the top-k plans as TakeOrderedAndProject, never a global
    * sort. */
  def q49ShippingPriority(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast("date").as("odate"),
        col("o_orderpriority").as("pri"))
      .orderBy(desc("revenue"), col("l_orderkey")).limit(10)

  /** J6 constrained star join (the TPC-H Q5 shape): region→nation dims
    * broadcast onto supplier, the lineitem⋈orders fact-fact join carries
    * the orderkey shuffle, and the customer join adds the same-nation
    * residual (c_nationkey = s_nationkey) that turns the star into a
    * cycle. Revenue per nation over a two-year window. Dims are hinted
    * broadcast (guaranteed small); every other join is left to AQE. */
  def q50LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val natAsia = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    val sup = t(s, dir, "supplier")
      .join(broadcast(natAsia), col("s_nationkey") === col("n_nationkey"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** W4 RANGE-frame window: per event, how many events the same user
    * fired in the strictly-preceding hour — [[e03BurstWindow]]'s range
    * join re-planned as a frame aggregation. Event timestamps are
    * µs-precision, so the [-3600e6 µs, -1 µs] frame is exactly
    * `b.ts ≥ a.ts - 1h ∧ b.ts < a.ts`: identical semantics, ONE
    * user-keyed shuffle+sort, zero join fan-out. This is the plan that
    * survives hot users at 100 TB — the join variant's per-user candidate
    * product concentrates on one reducer; the frame walk is linear in the
    * partition. The oracle is deliberately the join formulation, proving
    * the two plans agree row-for-row. */
  def e07BurstFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, -1L)
    t(s, dir, "events")
      .select(col("event_id"), count(lit(1)).over(w).as("n_prev_hour"))
      .orderBy("event_id")
  }

  /** U8 explicit GROUPING SETS (the Spark-4 `groupingSets` API —
    * arbitrary set lists, not just the rollup/cube lattices of q38/q43):
    * (flag, status), (flag), and the grand total, in one expand+agg
    * pass. gid pinned per-column exactly as q43. */
  def q51GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg((grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("gid"), col("n"), col("qty"))
      .orderBy(col("gid"), asc_nulls_first("rf"), asc_nulls_first("ls"))

  /** J7 semi/anti join pair (EXISTS / NOT EXISTS): customers with ≥1
    * urgent order vs without, side by side. Both plan as one-sided
    * hash joins that never materialize the match fan-out — the probe
    * side streams, the build side is the filtered key set; the two
    * 1-row aggregates cross-join for the report. */
  def q52SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val c = t(s, dir, "customer")
    val semi = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_with"))
    val anti = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_without"))
    semi.crossJoin(anti)
  }

  /** A20 sketch-tier quantiles: the GK approx_percentile estimate gated
    * by an exact rank band — est(p) must land between the exact
    * percentiles at p ± 0.005 (the sketch's guaranteed rank error at
    * accuracy 10000 is 1e-4, 50× tighter). Same property-oracle pattern
    * as q48: the estimate is deterministic, the oracle asserts the band
    * literally. At 100 TB the sketch is the only affordable plan —
    * fixed-size mergeable state vs a full sort per quantile. */
  def q53ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.005
    val ps = Seq(0.5, 0.9, 0.99)
    // the GK guarantee verified by its own DEFINITION: an estimate is
    // ε-approximate iff its rank lands within ±ε·n of the target —
    // checked with conditional COUNTS (two cheap scans of one column,
    // map-side combined) instead of materializing exact percentiles
    // (a full value buffer per partition — the thing that cannot run
    // at 100 TB; rank counting can). accuracy 2000 → 5e-4 worst-case
    // rank error, 10× inside the ±0.005 asserted band.
    val est = t(s, dir, "lineitem").agg(
      percentile_approx(col("l_extendedprice"),
        array(ps.map(lit): _*), lit(2000)).as("__est"),
      count(lit(1)).as("__n"))
    val counts = ps.indices.flatMap { i =>
      val e = element_at(col("__est"), i + 1)
      Seq(
        sum((col("l_extendedprice") < e).cast("long")).as(s"__lo$i"),
        sum((col("l_extendedprice") <= e).cast("long")).as(s"__hi$i"))
    }
    t(s, dir, "lineitem").select(col("l_extendedprice"))
      .crossJoin(broadcast(est))
      .groupBy().agg(counts.head, counts.tail :+ first(col("__n")).as("__n"): _*)
      .select(ps.indices.map { i =>
        val p = ps(i)
        // strictly-below mass may not overshoot p+ε; at-or-below mass
        // must reach p−ε (the duplicate-safe two-sided rank band)
        ((col(s"__lo$i").cast("double") <= col("__n") * (p + eps)) &&
          (col(s"__hi$i").cast("double") >= col("__n") * (p - eps)))
          .cast("int").as(s"ok${(p * 100).toInt}")
      }: _*)
  }

  /** Incremental materialized-rollup maintenance: the hourly
    * (event_type × hour) rollup split at a cut timestamp, each half
    * partially aggregated, then merged by summation
    * ([[graft.operators.Incremental.mergeRollups]]). The oracle
    * recomputes the rollup from the full table in one pass — a green
    * hash IS the merge-equals-recompute theorem on this dataset. At
    * scale the merge touches |rollup| + |delta| rows and never re-reads
    * the fact history. */
  def e08IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val cut = lit("2024-01-20 00:00:00").cast("timestamp")
    def part(df: DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    graft.operators.Incremental.mergeRollups(
        part(e.filter(col("ts") < cut)), part(e.filter(col("ts") >= cut)),
        Seq("h", "event_type"))
      .select(col("h"), col("event_type"), col("n"), round(col("sv"), 2).as("sv"))
      .orderBy("h", "event_type")
  }

  /** J8 correlated-scalar-subquery shape: orders priced above their own
    * customer's average, per priority. The Spark plan decorrelates via a
    * per-customer window average (one customer-keyed shuffle+sort, no
    * per-row subquery execution); the oracle keeps the literal
    * correlated subquery — a green hash proves the decorrelation. */
  def q54AboveCustAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    t(s, dir, "orders")
      .withColumn("ca", avg("o_totalprice").over(w))
      .filter(col("o_totalprice") > col("ca"))
      .groupBy(col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n_above"),
        round(avg(col("o_totalprice") - col("ca")), 2).as("avg_excess"))
      .orderBy("pri")
  }

  /** U9 multiset set ops (INTERSECT ALL / EXCEPT ALL — q40/q41's
    * bag-semantics siblings): lineitem partkey references vs the part
    * dimension's key set. intersectAll keeps min(multiplicity) copies
    * (= one per referenced part that exists), exceptAll subtracts
    * occurrence-wise. Both plan as aggregate+join on the key, never a
    * row-pairing blowup. */
  def q55SetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "lineitem").select(col("l_partkey").as("k"))
    val b = t(s, dir, "part").select(col("p_partkey").as("k"))
    val i = a.intersectAll(b).agg(count(lit(1)).as("n_intersect_all"))
    val e = a.exceptAll(b).agg(count(lit(1)).as("n_except_all"))
    i.crossJoin(e)
  }

  /** J9 FULL OUTER join of two aggregates: per-nation customer vs
    * supplier coverage, keys surviving from either side, absent side
    * coalesced to zero. Both inputs pre-aggregate to key-cardinality
    * before the join — at 100 TB the outer join moves nation-sized
    * frames, never fact rows. */
  def q56OuterCoverage(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
    val su = t(s, dir, "supplier")
      .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
    c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** W5 sliding ROWS-frame aggregate: 7-day centered moving average of
    * daily order volume. The window is unpartitioned but runs over the
    * DAILY aggregate (≤ a few thousand rows at any SF) — the q10/W3
    * justification: aggregate first, window the aggregate. */
  def q57MovingAvg(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(round(sum("o_totalprice"), 2).as("total"))
    val w = Window.orderBy("d").rowsBetween(-3, 3)
    daily.select(col("d"), col("total"),
        round(avg("total").over(w), 2).as("ma7"))
      .orderBy("d")
  }

  /** A21 mergeable-sketch distinct: per-priority DataSketches HLL
    * sketches UNIONED into a global estimate — the property that makes
    * sketches work on a cluster: 1000 executors build partials, the
    * merge is lossless-associative, nobody re-reads rows. The oracle
    * gate is the q48 pattern: exact global distinct + a literal 1
    * asserting the (deterministic) merged estimate lands within ±5%. */
  def q58HllMerge(s: SparkSession, dir: String): DataFrame = {
    val perGroup = t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    val merged = perGroup.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = t(s, dir, "orders")
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    exact.crossJoin(merged)
      .select(col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.05).cast("int").as("merge_ok"))
  }

  /** HLL set-intersection estimate by inclusion-exclusion:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), all three from mergeable
    * DataSketches HLL state — the audience-overlap question ("users who
    * both clicked AND purchased") answered WITHOUT a distinct-pair
    * shuffle: each side is one sketch aggregate, the union is a sketch
    * merge, and only three scalars leave the executors. The estimate is
    * deterministic for fixed input; the oracle gates it inside a ±10%
    * band of the exact overlap (q58's property-oracle recipe —
    * inclusion-exclusion compounds the error of three estimates, hence
    * the wider band). */
  def q61HllIntersect(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val a = e.filter(col("event_type") === "click")
    val b = e.filter(col("event_type") === "purchase")
    val est = a.agg(hll_sketch_agg(col("user_id")).as("ska"))
      .crossJoin(b.agg(hll_sketch_agg(col("user_id")).as("skb")))
      .select(hll_sketch_estimate(col("ska")).as("ea"),
        hll_sketch_estimate(col("skb")).as("eb"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("eu"))
      .select((col("ea") + col("eb") - col("eu")).as("est_overlap"))
    val exact = a.select("user_id").intersect(b.select("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    exact.crossJoin(est)
      .select(col("n_exact"),
        (abs(col("est_overlap") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.10).cast("int").as("intersect_ok"))
  }

  /** Market-basket association rules over order lineitems (Agrawal &
    * Srikant, VLDB '94 measures): for part pairs co-purchased in ≥ 2
    * orders, support count, both directed confidences, and lift. The
    * pair generator is a SAME-ORDER self-join — keyed by the order, so
    * fanout is bounded by (basket size)², never |parts|² — and every
    * measure derives from count aggregates (map-side combined;
    * dictionary-scale support table broadcast back). The classic
    * "bought together" recommender/affinity report. */
  def q62AssocRules(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val supp = li.groupBy(col("pk")).agg(count(lit(1)).as("n1"))
    val total = li.select("ok").distinct().agg(count(lit(1)).as("n"))
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= 2)
      .join(broadcast(supp.select(col("pk").as("pa"), col("n1").as("na"))), "pa")
      .join(broadcast(supp.select(col("pk").as("pb"), col("n1").as("nb"))), "pb")
      .crossJoin(broadcast(total))
      .select(col("pa"), col("pb"), col("nab"),
        round(col("nab").cast("double") / col("na"), 4).as("conf_ab"),
        round(col("nab").cast("double") / col("nb"), 4).as("conf_ba"),
        round(col("nab").cast("double") * col("n") /
          (col("na") * col("nb")), 4).as("lift"))
      .orderBy("pa", "pb")
  }

  /** A8+A12 NULLIF-guarded fraction (A4:790-805). */
  def q36FracNullif(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(
        sum(when(col("l_discount").between(0.05, 0.07), 1).otherwise(0)).as("s"),
        count(lit(1)).as("c"))
      .select(round(col("s") * lit(1.0) /
        when(col("c") === 0, lit(null)).otherwise(col("c")), 6).as("frac"))

  /** q47's SCD2 merge replayed in SQL (shared by the q47 entry and the
    * q63 as-of snapshot over the same history — one definition so the
    * two can never drift). */
  private lazy val q47OracleBody: String =
    """WITH cur AS (
      |  SELECT c_custkey, c_acctbal, c_mktsegment,
      |    DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
      |  FROM customer),
      |upd AS (
      |  SELECT c_custkey, ROUND(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_acctbal, 'NEW' FROM customer WHERE c_custkey < 20),
      |chg AS (
      |  SELECT u.c_custkey FROM upd u JOIN cur c USING (c_custkey)
      |  WHERE u.c_acctbal IS DISTINCT FROM c.c_acctbal
      |     OR u.c_mktsegment IS DISTINCT FROM c.c_mktsegment),
      |newk AS (
      |  SELECT u.c_custkey FROM upd u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM cur))
      |SELECT c_custkey, c_acctbal, c_mktsegment, valid_from, valid_to
      |FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
      |UNION ALL
      |SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment, c.valid_from, DATE '2024-06-01'
      |FROM cur c JOIN chg USING (c_custkey)
      |UNION ALL
      |SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment, DATE '2024-06-01', CAST(NULL AS DATE)
      |FROM upd u WHERE u.c_custkey IN (SELECT c_custkey FROM chg)
      |   OR u.c_custkey IN (SELECT c_custkey FROM newk)""".stripMargin

  /** Registry: name → implementation. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_count_global" -> q01CountGlobal,
    "q02_group_count" -> q02GroupCount,
    "q03_multikey_agg" -> q03MultikeyAgg,
    "q04_minmax_avg" -> q04MinMaxAvg,
    "q05_count_distinct" -> q05CountDistinct,
    "q06_distinct_limit" -> q06DistinctLimit,
    "q07_conditional_agg" -> q07ConditionalAgg,
    "q08_moments" -> q08Moments,
    "q09_having" -> q09Having,
    "q10_ratio_to_total" -> q10RatioToTotal,
    "q11_filter_compare" -> q11FilterCompare,
    "q12_between" -> q12Between,
    "q13_in_list" -> q13InList,
    "q14_ts_interval" -> q14TsInterval,
    "q15_ilike_search" -> q15IlikeSearch,
    "q16_null_pred" -> q16NullPred,
    "q17_regex" -> q17Regex,
    "q18_join_inner" -> q18JoinInner,
    "q19_outlier_2sigma" -> q19Outlier2Sigma,
    "q20_join_group" -> q20JoinGroup,
    "q21_topk" -> q21TopK,
    "q22_sort_limit" -> q22SortLimit,
    "q23_union_counts" -> q23UnionCounts,
    "q24_union_all" -> q24UnionAll,
    "q25_values_inline" -> q25ValuesInline,
    "q26_distinct_star" -> q26DistinctStar,
    "q27_latest_per_key" -> q27LatestPerKey,
    "q28_substr_group" -> q28SubstrGroup,
    "q29_mask_concat" -> q29MaskConcat,
    "q30_sha2" -> q30Sha2,
    "q31_case_coalesce" -> q31CaseCoalesce,
    "q32_date_trunc" -> q32DateTrunc,
    "q33_datediff" -> q33DateDiff,
    "q34_mod_bucket" -> q34ModBucket,
    "q59_histogram" -> q59Histogram,
    "q35_json_extract" -> q35JsonExtract,
    "q37_variant_stage" -> q37VariantStage,
    "e01_sessions" -> e01Sessions,
    "e02_asof_orders" -> e02AsofOrders,
    "e09_transitions" -> e09Transitions,
    "e10_session_funnel" -> e10SessionFunnel,
    "e11_rfm_scores" -> e11RfmScores,
    "e12_pagerank" -> e12PageRank,
    "e13_bfs_hops" -> e13BfsHops,
    "q60_gap_detection" -> q60GapDetection,
    "q38_rollup" -> q38Rollup,
    "q39_percentiles" -> q39Percentiles,
    "q36_frac_nullif" -> q36FracNullif,
    "q40_intersect" -> q40Intersect,
    "q41_except" -> q41Except,
    "q42_window_fns" -> q42WindowFns,
    "q43_cube" -> q43Cube,
    "q44_pivot" -> q44Pivot,
    "q45_stats_agg" -> q45StatsAgg,
    "q46_string_agg" -> q46StringAgg,
    "q47_scd2_merge" -> q47Scd2,
    "e03_burst_window" -> e03BurstWindow,
    "e14_seasonal_anomaly" -> e14SeasonalAnomaly,
    "e15_max_concurrency" -> e15MaxConcurrency,
    "e16_cusum_shift" -> e16CusumShift,
    "e17_window_load" -> e17WindowLoad,
    "e18_ema_forecast" -> e18EmaForecast,
    "e19_salted_type_stats" -> e19SaltedTypeStats,
    "e04_funnel" -> e04Funnel,
    "e05_cohorts" -> e05Cohorts,
    "e06_apply_changes" -> e06ApplyChanges,
    "q48_hll_distinct" -> q48HllDistinct,
    "q49_shipping_priority" -> q49ShippingPriority,
    "q50_local_supplier" -> q50LocalSupplier,
    "e07_burst_frame" -> e07BurstFrame,
    "q51_grouping_sets" -> q51GroupingSets,
    "q52_semi_anti" -> q52SemiAnti,
    "q53_approx_quantiles" -> q53ApproxQuantiles,
    "e08_incremental_rollup" -> e08IncrementalRollup,
    "q54_above_cust_avg" -> q54AboveCustAvg,
    "q55_set_ops_all" -> q55SetOpsAll,
    "q56_outer_coverage" -> q56OuterCoverage,
    "q57_moving_avg" -> q57MovingAvg,
    "q58_hll_merge" -> q58HllMerge,
    "q61_hll_intersect" -> q61HllIntersect,
    "q62_assoc_rules" -> q62AssocRules,
    "q63_asof_snapshot" -> q63AsofSnapshot,
    "q64_warehouse_prune" -> q64WarehousePrune,
  )

  /** DuckDB-dialect oracle SQL, column-name aligned with [[all]]. */
  val oracles: Map[String, String] = Map(
    "q01_count_global" -> "SELECT COUNT(*) AS n FROM lineitem",
    "q02_group_count" ->
      "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY n DESC, o_orderstatus",
    "q03_multikey_agg" ->
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(AVG(l_quantity),4) AS avg_qty FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "q04_minmax_avg" ->
      "SELECT ROUND(MIN(l_extendedprice),4) AS mn, ROUND(MAX(l_extendedprice),4) AS mx, ROUND(AVG(l_extendedprice),4) AS av FROM lineitem",
    "q05_count_distinct" ->
      "SELECT COUNT(DISTINCT o_custkey) AS u FROM orders",
    "q06_distinct_limit" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment LIMIT 200",
    "q07_conditional_agg" ->
      "SELECT CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_bal, CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS rich FROM customer",
    "q08_moments" ->
      "SELECT ROUND(AVG(l_quantity),4) AS m, ROUND(STDDEV(l_quantity),4) AS sd FROM lineitem",
    "q09_having" ->
      "SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) > 15 ORDER BY n DESC, o_custkey",
    "q10_ratio_to_total" ->
      "SELECT o_orderpriority, COUNT(*) AS n, ROUND(100.0*COUNT(*)/SUM(COUNT(*)) OVER (),4) AS pct FROM orders GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority",
    "q11_filter_compare" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_extendedprice < 1200 ORDER BY l_orderkey, l_linenumber",
    "q12_between" ->
      "SELECT c_custkey FROM customer WHERE c_acctbal BETWEEN 100 AND 200 ORDER BY c_custkey",
    "q13_in_list" ->
      "SELECT n_name FROM nation WHERE n_regionkey IN (0,2) ORDER BY n_name",
    "q14_ts_interval" ->
      "SELECT event_id FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-10 00:00:00' + INTERVAL 1 DAY ORDER BY event_id",
    "q15_ilike_search" ->
      "SELECT c_custkey FROM customer WHERE LOWER(c_name) LIKE '%00%' OR LOWER(c_mktsegment) LIKE '%ma%' ORDER BY c_custkey",
    "q16_null_pred" ->
      "SELECT COUNT(*) AS n FROM events WHERE props IS NOT NULL",
    "q17_regex" ->
      "SELECT c_custkey FROM customer WHERE regexp_matches(c_name, '00[0-4]$') ORDER BY c_custkey LIMIT 100",
    "q18_join_inner" ->
      "SELECT o.o_orderkey, c.c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > 400000 ORDER BY o.o_orderkey",
    "q19_outlier_2sigma" ->
      "WITH pc AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey) SELECT pc.o_custkey, pc.n FROM pc CROSS JOIN (SELECT AVG(n) m, STDDEV(n) sd FROM pc) s WHERE pc.n > s.m + 2*s.sd ORDER BY pc.o_custkey",
    "q20_join_group" ->
      "SELECT n.n_name, COUNT(*) AS n FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name ORDER BY n DESC, n.n_name",
    "q21_topk" ->
      "SELECT p_brand, COUNT(*) AS n, ROUND(AVG(p_retailprice),4) AS avg_p FROM part GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 10",
    "q22_sort_limit" ->
      "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT 10",
    "q23_union_counts" ->
      "SELECT 'orders' AS obj, COUNT(*) AS n FROM orders UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem ORDER BY obj",
    "q24_union_all" ->
      "SELECT s_suppkey, s_name FROM supplier WHERE s_acctbal > 5000 UNION ALL SELECT s_suppkey, s_name FROM supplier WHERE s_acctbal < 0 ORDER BY s_suppkey",
    "q25_values_inline" ->
      "SELECT t.metric, CAST(t.threshold AS DOUBLE) AS threshold FROM (VALUES ('a', 1.0), ('b', 0.95)) AS t(metric, threshold) ORDER BY t.metric",
    "q26_distinct_star" ->
      "SELECT COUNT(*) AS n FROM (SELECT DISTINCT * FROM nation) t",
    "q27_latest_per_key" ->
      "SELECT o_custkey, o_orderkey, o_orderdate FROM (SELECT o_custkey, o_orderkey, o_orderdate, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) rn FROM orders) WHERE rn = 1 ORDER BY o_custkey LIMIT 100",
    "q28_substr_group" ->
      "SELECT SUBSTRING(c_name,10,2) AS pfx, COUNT(*) AS n FROM customer GROUP BY SUBSTRING(c_name,10,2) ORDER BY n DESC, pfx LIMIT 20",
    "q29_mask_concat" ->
      "SELECT c_custkey, CONCAT(SUBSTRING(c_name,1,4), '********') AS masked FROM customer ORDER BY c_custkey LIMIT 50",
    "q30_sha2" ->
      "SELECT c_custkey, sha256(c_name) AS h FROM customer ORDER BY c_custkey LIMIT 50",
    "q31_case_coalesce" ->
      "SELECT o_orderkey, COALESCE(o_orderpriority, 'N/A') AS pri, CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS sz FROM orders ORDER BY o_orderkey LIMIT 100",
    "q32_date_trunc" ->
      "SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mo, COUNT(*) AS n FROM orders GROUP BY DATE_TRUNC('month', o_orderdate) ORDER BY mo",
    "q33_datediff" ->
      "SELECT o_orderkey, CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS BIGINT) AS age_days FROM orders ORDER BY o_orderkey LIMIT 100",
    "q34_mod_bucket" ->
      "SELECT l_orderkey % 100 AS bucket, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey % 100 ORDER BY bucket",
    "q59_histogram" ->
      ("SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, bucket * 5000 AS lo FROM " +
        "(SELECT CAST(LEAST(FLOOR(l_extendedprice / 5000), 19) AS BIGINT) AS bucket FROM lineitem) " +
        "GROUP BY bucket ORDER BY bucket"),
    "q35_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events ORDER BY event_id LIMIT 100",
    "q36_frac_nullif" ->
      "SELECT ROUND(SUM(CASE WHEN l_discount BETWEEN 0.05 AND 0.07 THEN 1 ELSE 0 END)*1.0/NULLIF(COUNT(*),0),6) AS frac FROM lineitem",
    "q37_variant_stage" ->
      ("SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket, " +
        "COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value " +
        "FROM events GROUP BY 1 ORDER BY k_bucket"),
    "q38_rollup" ->
      ("SELECT o_orderpriority AS pri, o_orderstatus AS status, " +
        "CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total " +
        "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus) " +
        "ORDER BY pri NULLS FIRST, status NULLS FIRST"),
    "q39_percentiles" ->
      ("SELECT o_orderpriority AS pri, " +
        "ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price, " +
        "ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price " +
        "FROM orders GROUP BY o_orderpriority ORDER BY pri"),
    "e01_sessions" ->
      ("""WITH l AS (SELECT user_id, event_id, ts,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS brk
        |   FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts,
        |   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM l)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_idx, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_idx""".stripMargin),
    "e02_asof_orders" ->
      ("""WITH j AS (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT event_id, o_orderkey, o_orderdate FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin),
    "q40_intersect" ->
      ("SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW' " +
        "ORDER BY o_custkey"),
    "q41_except" ->
      ("SELECT DISTINCT o_custkey FROM orders " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "ORDER BY o_custkey"),
    "q42_window_fns" ->
      ("""SELECT o_custkey, o_orderkey,
        |  ROUND(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  ROUND(lead(o_totalprice, 1) OVER w, 2) AS next_price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS prank,
        |  ROUND(cume_dist() OVER w, 6) AS cdist,
        |  first_value(o_orderkey) OVER w AS first_key
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    "q43_cube" ->
      ("""SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, rf NULLS FIRST, ls NULLS FIRST""".stripMargin),
    "q44_pivot" ->
      ("""SELECT o_orderpriority AS pri,
        |  CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS st_f,
        |  CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS st_o,
        |  CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS st_p
        |FROM orders GROUP BY o_orderpriority ORDER BY pri""".stripMargin),
    "e03_burst_window" ->
      ("""SELECT a.event_id, CAST(count(b.event_id) AS BIGINT) AS n_prev_hour
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id AND b.ts < a.ts AND b.ts >= a.ts - INTERVAL 1 HOUR
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin),
    "e14_seasonal_anomaly" ->
      ("""WITH cells AS (
        |  SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
        |    CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |base AS (
        |  SELECT event_type, hr, AVG(n) AS m, STDDEV_POP(n) AS sd
        |  FROM cells GROUP BY event_type, hr)
        |SELECT c.event_type, c.hr, c.day, c.n
        |FROM cells c JOIN base b USING (event_type, hr)
        |WHERE ABS(c.n - b.m) > 2 * b.sd
        |ORDER BY c.event_type, c.hr, c.day""".stripMargin),
    "e15_max_concurrency" ->
      ("""WITH d AS (
        |  SELECT user_id, ts AS edge, 1 AS d FROM events
        |  UNION ALL
        |  SELECT user_id, ts + INTERVAL 5 MINUTE, -1 FROM events),
        |sweep AS (
        |  SELECT user_id,
        |    SUM(d) OVER (PARTITION BY user_id ORDER BY edge, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM d)
        |SELECT user_id, CAST(MAX(open) AS BIGINT) AS max_concurrent
        |FROM sweep GROUP BY user_id ORDER BY user_id""".stripMargin),
    "e16_cusum_shift" ->
      ("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, AVG(n) AS m FROM daily GROUP BY event_type)
        |SELECT d.event_type, d.day, d.n,
        |  ROUND(SUM(d.n - m.m) OVER (PARTITION BY d.event_type ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) + 0.0 AS cusum
        |FROM daily d JOIN m USING (event_type)
        |ORDER BY d.event_type, d.day""".stripMargin),
    "e17_window_load" ->
      ("""WITH busy AS (
        |  SELECT date_trunc('hour', ts) AS ws FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1 HAVING count(*) >= 3),
        |w AS (SELECT ws, ws + INTERVAL 90 MINUTE AS we FROM busy)
        |SELECT w.ws AS window_start, CAST(count(e.event_id) AS BIGINT) AS n_events
        |FROM w LEFT JOIN events e ON e.ts >= w.ws AND e.ts < w.we
        |GROUP BY w.ws ORDER BY window_start""".stripMargin),
    "e18_ema_forecast" ->
      ("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS j
        |  FROM daily),
        |tops AS (SELECT event_type, MAX(j) AS d, MAX(day) AS last_day
        |         FROM idx GROUP BY event_type)
        |SELECT i.event_type, t.last_day,
        |  ROUND(SUM(CASE WHEN i.j = 1 THEN POWER(0.7, t.d - 1) * i.n
        |                 WHEN i.j <= t.d THEN 0.3 * POWER(0.7, t.d - i.j) * i.n
        |                 ELSE 0.0 END), 4) AS forecast_next,
        |  ROUND(ABS(SUM(CASE WHEN i.j = 1 THEN POWER(0.7, t.d - 2) * i.n
        |                     WHEN i.j <= t.d - 1 THEN 0.3 * POWER(0.7, t.d - 1 - i.j) * i.n
        |                     ELSE 0.0 END)
        |            - MAX(CASE WHEN i.j = t.d THEN i.n END)), 4) AS backtest_abs_err
        |FROM idx i JOIN tops t USING (event_type)
        |GROUP BY i.event_type, t.last_day ORDER BY i.event_type""".stripMargin),
    "e19_salted_type_stats" ->
      ("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q47_scd2_merge" -> (q47OracleBody + "\nORDER BY c_custkey, valid_from"),
    "q63_asof_snapshot" ->
      (s"""WITH scd AS ($q47OracleBody)
         |SELECT c_custkey, c_acctbal, c_mktsegment, valid_from, valid_to
         |FROM scd
         |WHERE valid_from <= DATE '2024-07-01'
         |  AND (valid_to IS NULL OR valid_to > DATE '2024-07-01')
         |ORDER BY c_custkey""".stripMargin),
    // the oracle reads the RAW events table: the Spark side's
    // date-partitioned copy + p_date pruning must be pure layout
    "q64_warehouse_prune" ->
      ("""SELECT event_type, COUNT(*) AS n FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    "e04_funnel" ->
      ("""WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
        |SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p
        |ORDER BY step""".stripMargin),
    "e05_cohorts" ->
      ("""WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
        |SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
        |  CAST(datediff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) // 7 AS BIGINT) AS week_n,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_n""".stripMargin),
    "e06_apply_changes" ->
      ("""WITH chg AS (
        |  SELECT c_custkey, 1 AS seq, 'U' AS action,
        |    ROUND(c_acctbal + 50, 2) AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, 2, 'U', ROUND(c_acctbal + 75, 2), c_mktsegment
        |  FROM customer WHERE c_custkey % 14 = 0
        |  UNION ALL
        |  SELECT c_custkey, 1, 'D', c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 13 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 1, 'I', c_acctbal, 'NEW'
        |  FROM customer WHERE c_custkey < 5),
        |latest AS (
        |  SELECT * FROM chg
        |  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC, action DESC) = 1),
        |merged AS (
        |  SELECT c_custkey,
        |    CASE WHEN l.action IS NOT NULL THEN l.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
        |    CASE WHEN l.action IS NOT NULL THEN l.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment,
        |    l.action
        |  FROM (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer) t
        |  FULL OUTER JOIN latest l USING (c_custkey))
        |SELECT c_custkey, c_acctbal, c_mktsegment FROM merged
        |WHERE action IS DISTINCT FROM 'D' ORDER BY c_custkey""".stripMargin),
    "q45_stats_agg" ->
      ("""SELECT ROUND(corr(l_extendedprice, l_quantity), 4) AS r,
        |  ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS cov_s,
        |  ROUND(covar_pop(l_extendedprice, l_quantity), 4) AS cov_p,
        |  ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
        |FROM lineitem""".stripMargin),
    "q46_string_agg" ->
      ("""SELECT n.n_name, string_agg(DISTINCT c.c_mktsegment, ','
        |    ORDER BY c.c_mktsegment) AS segments
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),
    // hll_ok = 1 is the PROPERTY the oracle asserts: Spark's HLL++
    // estimate (deterministic for a given dataset) must land within ±5%
    // of the exact count the oracle recomputes
    "q48_hll_distinct" ->
      ("""SELECT o_orderpriority AS pri,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact, 1 AS hll_ok
        |FROM orders GROUP BY pri ORDER BY pri""".stripMargin),
    "q49_shipping_priority" ->
      ("""SELECT l_orderkey,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority AS pri
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    "q50_local_supplier" ->
      ("""SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer c
        |JOIN orders o ON c_custkey = o_custkey
        |JOIN lineitem l ON l_orderkey = o_orderkey
        |JOIN supplier s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation n ON s_nationkey = n_nationkey
        |JOIN region r ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    // deliberately the JOIN formulation (same text as e03's oracle): a
    // green hash proves the frame plan agrees with the range join
    "e07_burst_frame" ->
      ("""SELECT a.event_id, CAST(count(b.event_id) AS BIGINT) AS n_prev_hour
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id AND b.ts < a.ts AND b.ts >= a.ts - INTERVAL 1 HOUR
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin),
    "q51_grouping_sets" ->
      ("""SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, rf NULLS FIRST, ls NULLS FIRST""".stripMargin),
    "q52_semi_anti" ->
      ("""SELECT
        |  (SELECT COUNT(*) FROM customer WHERE EXISTS (
        |     SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |       AND o_orderpriority = '1-URGENT')) AS n_with,
        |  (SELECT COUNT(*) FROM customer WHERE NOT EXISTS (
        |     SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |       AND o_orderpriority = '1-URGENT')) AS n_without""".stripMargin),
    // the literal 1s ARE the property: Spark's deterministic GK estimate
    // must land inside the exact p±0.005 rank band (guarantee is 1e-4)
    "q53_approx_quantiles" ->
      "SELECT 1 AS ok50, 1 AS ok90, 1 AS ok99",
    "e08_incremental_rollup" ->
      ("""SELECT date_trunc('hour', ts) AS h, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sv
        |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin),
    "q60_gap_detection" ->
      ("""WITH b AS (
        |  SELECT DISTINCT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS b FROM events),
        |span AS (SELECT min(b) AS lo, max(b) AS hi FROM b),
        |expected AS (
        |  SELECT unnest(generate_series(lo, hi, 600)) AS b FROM span),
        |missing AS (
        |  SELECT b, b / 600 - ROW_NUMBER() OVER (ORDER BY b) AS run
        |  FROM expected WHERE b NOT IN (SELECT b FROM b))
        |SELECT min(b) AS gap_start, max(b) AS gap_end,
        |  CAST(count(*) AS BIGINT) AS n_buckets
        |FROM missing GROUP BY run ORDER BY gap_start""".stripMargin),
    "e11_rfm_scores" ->
      ("""WITH base AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(datediff('day', CAST(max(o_orderdate) AS DATE), DATE '1998-12-01') AS INT) AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    ROUND(sum(o_totalprice), 2) AS monetary
        |  FROM orders GROUP BY o_custkey)
        |SELECT custkey, recency_days, frequency, monetary,
        |  ntile(5) OVER (ORDER BY recency_days, custkey) AS r_score,
        |  ntile(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
        |  ntile(5) OVER (ORDER BY monetary DESC, custkey) AS m_score
        |FROM base ORDER BY custkey""".stripMargin),
    "e12_pagerank" -> graft.operators.PageRank.pageRankOracleSql(
      """e0 AS (
        |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)""".stripMargin,
      iters = 5),
    "e13_bfs_hops" -> graft.operators.Graph.bfsHopsOracleSql(
      """e0 AS (
        |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)""".stripMargin,
      source = 0L, maxHops = 4),
    "e10_session_funnel" ->
      ("""WITH l AS (SELECT user_id, event_id, ts, event_type,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS brk
        |   FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_type, ts,
        |   SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM l),
        |v AS (SELECT user_id, sid, min(ts) AS v_ts FROM s WHERE event_type = 'view' GROUP BY user_id, sid),
        |c AS (SELECT s.user_id, s.sid, min(s.ts) AS c_ts FROM s JOIN v ON s.user_id = v.user_id AND s.sid = v.sid
        |   WHERE s.event_type = 'click' AND s.ts > v.v_ts GROUP BY s.user_id, s.sid),
        |p AS (SELECT s.user_id, s.sid, min(s.ts) AS p_ts FROM s JOIN c ON s.user_id = c.user_id AND s.sid = c.sid
        |   WHERE s.event_type = 'purchase' AND s.ts > c.c_ts GROUP BY s.user_id, s.sid)
        |SELECT '1_view' AS step, CAST((SELECT count(*) FROM v) AS BIGINT) AS n_sessions
        |UNION ALL SELECT '2_click_after_view', CAST((SELECT count(*) FROM c) AS BIGINT)
        |UNION ALL SELECT '3_purchase_after_click', CAST((SELECT count(*) FROM p) AS BIGINT)
        |ORDER BY step""".stripMargin),
    "e09_transitions" ->
      ("""WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 4) AS p
        |FROM cnt ORDER BY from_type, to_type""".stripMargin),
    // the literal correlated form — the Spark side decorrelates it into
    // a window average; a green hash proves the rewrite
    "q54_above_cust_avg" ->
      ("""SELECT o_orderpriority AS pri, COUNT(*) AS n_above,
        |  ROUND(AVG(o_totalprice - ca), 2) AS avg_excess
        |FROM (SELECT o.*,
        |        (SELECT AVG(o2.o_totalprice) FROM orders o2
        |         WHERE o2.o_custkey = o.o_custkey) AS ca
        |      FROM orders o)
        |WHERE o_totalprice > ca
        |GROUP BY pri ORDER BY pri""".stripMargin),
    "q55_set_ops_all" ->
      ("""SELECT
        |  (SELECT COUNT(*) FROM (SELECT l_partkey FROM lineitem
        |     INTERSECT ALL SELECT p_partkey FROM part)) AS n_intersect_all,
        |  (SELECT COUNT(*) FROM (SELECT l_partkey FROM lineitem
        |     EXCEPT ALL SELECT p_partkey FROM part)) AS n_except_all""".stripMargin),
    "q56_outer_coverage" ->
      ("""SELECT COALESCE(c.k, s.k) AS nationkey,
        |  COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS n_cust
        |      FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS n_supp
        |      FROM supplier GROUP BY s_nationkey) s
        |ON c.k = s.k ORDER BY nationkey""".stripMargin),
    "q57_moving_avg" ->
      ("""WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    ROUND(SUM(o_totalprice), 2) AS total
        |  FROM orders GROUP BY d)
        |SELECT d, total,
        |  ROUND(AVG(total) OVER (ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 2) AS ma7
        |FROM daily ORDER BY d""".stripMargin),
    // merge_ok = 1 asserts the deterministic union-of-partial-sketches
    // estimate lands within ±5% of the exact count (q48 pattern)
    "q58_hll_merge" ->
      ("SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact, " +
        "1 AS merge_ok FROM orders"),
    "q61_hll_intersect" ->
      ("""SELECT CAST(count(*) AS BIGINT) AS n_exact, 1 AS intersect_ok
        |FROM (SELECT user_id FROM events WHERE event_type = 'click'
        |      INTERSECT
        |      SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin),
    "q62_assoc_rules" ->
      ("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |supp AS (SELECT pk, count(*) AS n1 FROM li GROUP BY pk),
        |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM li),
        |p AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS nab
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pa, pb, nab,
        |  ROUND(CAST(nab AS DOUBLE) / sa.n1, 4) AS conf_ab,
        |  ROUND(CAST(nab AS DOUBLE) / sb.n1, 4) AS conf_ba,
        |  ROUND(CAST(nab AS DOUBLE) * tot.n / (sa.n1 * sb.n1), 4) AS lift
        |FROM p JOIN supp sa ON p.pa = sa.pk JOIN supp sb ON p.pb = sb.pk
        |CROSS JOIN tot
        |ORDER BY pa, pb""".stripMargin),
  )
}
