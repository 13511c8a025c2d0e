package graft.dq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SnowFns

/** The reference's data-quality framework (SURVEY.md §2.11 G1-G9,
  * A4:731-930) as reusable library operators over arbitrary DataFrames.
  *
  * Scale posture: every check is a single-pass aggregation or a
  * key-partitioned group-by — one scan per metric *batch*, not per
  * metric. The multi-metric builders ([[nullProfile]], [[metricsBatch]])
  * compute all their conditional aggregates in one `agg(...)` so a 100 TB
  * table is read once, map-side-combined, and the shuffle carries a
  * handful of partial sums per partition. Nothing here collects to the
  * driver.
  */
object DqChecks {

  /** G1 duplicate detection (A4:738-742): key groups with more than one
    * row. `groupBy(keys).count.filter(>1)` — partial aggregation makes
    * the shuffle one row per (key, partition). */
  def duplicates(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)

  /** Referential-integrity check: count of `child` rows whose key has no
    * match in `parent` — a LEFT ANTI join, so the child never widens and
    * the parent side ships only its (distinct) key column. At dim-sized
    * parents the anti join broadcasts; fact⋈fact relationships shuffle
    * on the key like any equi join. Zero is the healthy result.
    *
    * NULL child keys are NOT orphans — SQL (MATCH SIMPLE) foreign keys
    * treat a null reference as non-violating, and the anti join's
    * null-never-equals would otherwise permanently alarm on any
    * optional relationship. Count nulls with [[nullProfile]] if the
    * column is supposed to be mandatory. */
  def orphanCount(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, label: String): DataFrame =
    child.select(col(childKey))
      .filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .select(lit(label).as("relationship"), col("n_orphans"))

  /** ANALYZE-style numeric column profile: rows, nulls, exact NDV, and
    * min/max per column, one scan pass, a row per column (the stats
    * table a cost-based planner or a DQ dashboard feeds on). Exact
    * `countDistinct` here because the oracle replays it; at 100 TB swap
    * in `approx_count_distinct` (HLL) — same shape, sketch-sized
    * shuffle. An empty table profiles to an empty table.
    *
    * Shape: unpivot FIRST (one `(column_name, value)` cell per row and
    * column — a per-column union of selects would let Catalyst split
    * the plan into an independent scan per column), then a single
    * grouped pass with ONE distinct aggregate. One distinct is planned
    * as the classic two-exchange distinct aggregation — never the
    * multi-distinct Expand path, whose gid/group ordering follows the
    * session-global expression-id counter and re-dirtied this query's
    * plan snapshot whenever unrelated queries moved the counter. The
    * distinct stage keys on `(column_name, value)`, so it distributes
    * over value hashes rather than piling a whole column's cells on one
    * reducer. */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "numericProfile needs at least one column")
    val cells = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("double").as("v"))): _*))
        .as("__c"))
      .select(col("__c.column_name").as("column_name"), col("__c.v").as("v"))
    cells.groupBy("column_name").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
      countDistinct(col("v")).as("ndv"),
      min(col("v")).as("min_val"),
      max(col("v")).as("max_val"))
  }

  /** G2 range/type/staleness validation (A4:744-747): rows violating
    * `value ∈ [lo, hi] ∧ value not null ∧ ts ≤ asOf`. The predicate is a
    * scan-level filter — pushed to the parquet reader. `asOf` is an
    * explicit parameter (not current_timestamp) so results are
    * reproducible. */
  def rangeViolations(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      tsCol: String, asOf: Column): DataFrame =
    // a NULL timestamp is a violation like a null value: `ts <= asOf`
    // can never be verified for it, and without the explicit isNull arm
    // the whole OR evaluates null and the row silently passes
    df.filter(col(valueCol).isNull || col(valueCol) < lo ||
      col(valueCol) > hi || col(tsCol).isNull || col(tsCol) > asOf)

  /** G3 null-count profile (A4:749-756): null counts for every listed
    * column in ONE pass (a single agg of conditional sums), unpivoted to
    * (metric_name, metric_value) rows. */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"))
    SnowFns.unpivot(df.agg(aggs.head, aggs.tail: _*),
      idCols = Seq.empty, valueCols = cols.map(c => s"null_$c"))
  }

  /** G4 format validation (A4:758-760): rows whose column fails the
    * regex. */
  def formatViolations(df: DataFrame, c: String, pattern: String): DataFrame =
    df.filter(!col(c).rlike(pattern) || col(c).isNull)

  /** G5 sigma-outlier detection (A4:762-769): rows beyond
    * mean ± nSigma·stddev. The 1-row moments aggregate is broadcast into
    * a cross join, so the fact side is scanned twice but never shuffled
    * (at 100 TB: scan cost, not shuffle cost; cache the input to halve
    * it). */
  def sigmaOutliers(df: DataFrame, valueCol: String,
      nSigma: Double = 3.0): DataFrame = {
    val stats = df.agg(avg(valueCol).as("__m"), stddev(valueCol).as("__sd"))
    df.crossJoin(broadcast(stats))
      // BOTH tails — an abnormally LOW value (the classic partial-load /
      // data-loss signal) is as much an outlier as a high one
      .filter(col(valueCol) > col("__m") + lit(nSigma) * col("__sd") ||
        col(valueCol) < col("__m") - lit(nSigma) * col("__sd"))
      .drop("__m", "__sd")
  }

  /** G6 completeness/validity metric batch (A4:786-823): named ratio
    * metrics — `avg(iff(pred,1,0))` per metric — computed in ONE
    * aggregation pass and unpivoted to
    * (metric_group, metric_name, metric_value) rows. */
  def metricsBatch(df: DataFrame, metricGroup: String,
      metrics: Seq[(String, Column)], scale: Int = 6): DataFrame = {
    val aggs = metrics.map { case (name, pred) =>
      round(avg(SnowFns.iff(pred, lit(1.0), lit(0.0))), scale).as(name)
    }
    SnowFns.unpivot(
      df.agg(aggs.head, aggs.tail: _*).withColumn("metric_group", lit(metricGroup)),
      idCols = Seq("metric_group"), valueCols = metrics.map(_._1))
  }

  /** G7 latest-value-per-metric dashboard (A4:824-836, W1): newest row
    * per (metric_group, metric_name) by computed_at — the QUALIFY
    * rewrite. */
  def latestPerMetric(metrics: DataFrame): DataFrame =
    SnowFns.qualifyRowNumber1(metrics,
      partitionBy = Seq("metric_group", "metric_name"),
      orderBy = Seq(col("computed_at").desc))

  /** G8 threshold alerting (A4:901-918): latest metrics joined to an
    * inline threshold table (U3 VALUES ≡ toDF), keeping metrics below
    * threshold. The threshold side is a handful of rows — broadcast. */
  def thresholdAlerts(latestMetrics: DataFrame,
      thresholds: DataFrame): DataFrame =
    latestMetrics.join(broadcast(thresholds), Seq("metric_name"))
      .filter(col("metric_value") < col("threshold"))

  /** G9 hourly metric trend (A4:924-930): aggregates over
    * date_trunc('hour') buckets. */
  /** Population-stability-index drift screen: per group, compare the
    * `valueCol` distribution of the CURRENT rows against the BASELINE
    * rows (the industry-standard week-over-week / train-vs-serve drift
    * metric; PSI > 0.25 is the conventional "investigate" line).
    *
    * Bin edges are `nBins` equal widths over the BASELINE min/max (the
    * fixed yardstick — current-side values outside it clamp into the
    * edge bins, which is exactly the mass a drift screen must see);
    * densities are Laplace-smoothed (+0.5 per bin) so empty bins can't
    * produce log(0); psi = Σ (p_cur − p_base)·ln(p_cur/p_base), summed
    * in bin order via an ordered fold so the result is engine- and
    * partition-independent.
    *
    * Scale: one filtered aggregate for the baseline yardstick (tiny,
    * broadcast), then ONE full scan binned and counted — the shuffle
    * carries (group, bin) partial counts, never rows. Groups absent
    * from the baseline have no yardstick and are not scored. */
  def psiDrift(df: DataFrame, groupCol: String, valueCol: String,
      isBaseline: Column, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins ($nBins) must be >= 2")
    val stats = df.filter(isBaseline).groupBy(groupCol)
      .agg(min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"))
    val counts = df.join(broadcast(stats), groupCol)
      .withColumn("__bin",
        psiBin(col(valueCol), col("__lo"), col("__hi"), nBins))
      .groupBy(groupCol, "__bin")
      .agg(sum(isBaseline.cast("long")).as("__nb"),
        sum((!isBaseline).cast("long")).as("__nc"))
    // every (group, bin) slot must exist for the smoothed densities —
    // a bin empty on both sides still contributes its (tiny) smoothing
    // mass symmetrically (contrib 0), and one-sided gaps are REAL drift
    val slots = stats
      .select(col(groupCol), explode(sequence(lit(0), lit(nBins - 1))).as("__bin"))
      .join(counts, Seq(groupCol, "__bin"), "left")
      .select(col(groupCol), col("__bin"),
        coalesce(col("__nb"), lit(0L)).as("__nb"),
        coalesce(col("__nc"), lit(0L)).as("__nc"))
    psiFromSlots(slots, groupCol)
  }

  /** The equal-width bin of `v` against a [lo, hi] yardstick: out-of-
    * range values clamp into the edge bins, nulls stay null (unscored).
    * A degenerate (lo = hi) yardstick — a baseline that was CONSTANT —
    * splits inside/outside instead: v = lo stays in bin 0, anything
    * else lands in the last bin, so a group that starts moving after a
    * constant baseline carries PSI mass rather than silently reading
    * as "no drift" (all-bin-0 would). */
  private def psiBin(v: Column, lo: Column, hi: Column,
      nBins: Int): Column = {
    val w = (hi - lo) / nBins
    // clamp on the LONG before the int cast: a wildly drifted value can
    // push floor() past Int.MaxValue, and ANSI mode would turn the cast
    // into a crash exactly on the data a drift screen exists to catch;
    // the explicit isNotNull guard keeps nulls null (greatest/least
    // SKIP nulls, so without it a null value would clamp into bin 0
    // and count as spurious bin-0 mass)
    when(v.isNotNull && w > 0,
      least(lit(nBins - 1).cast("long"), greatest(lit(0L),
        floor((v - lo) / w))).cast("int"))
      // 9dp quantization so sub-ULP jitter around the constant (a
      // different reduction order recomputing the same metric) stays
      // "inside" instead of firing a maximal-PSI alarm
      .when(v.isNotNull && round(v, 9) === round(lo, 9), lit(0))
      .when(v.isNotNull, lit(nBins - 1))
  }

  /** PSI from complete per-(group, bin) slot counts — (groupCol, __bin,
    * __nb, __nc) with every bin present; __bin may be any orderable
    * type (int bins for the numeric screen, category strings for the
    * categorical one — slot count per group is taken from the data, so
    * variable-width groups work). The one place the smoothing and the
    * ordered-fold sum live, so the numeric and categorical screens
    * compute PSI the same way. */
  private def psiFromSlots(slots: DataFrame,
      groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val contrib = slots
      .withColumn("__tb", sum(col("__nb")).over(w))
      .withColumn("__tc", sum(col("__nc")).over(w))
      .withColumn("__ns", count(lit(1)).over(w))
      .withColumn("__pb", (col("__nb") + lit(0.5)) /
        (col("__tb").cast("double") + lit(0.5) * col("__ns")))
      .withColumn("__pc", (col("__nc") + lit(0.5)) /
        (col("__tc").cast("double") + lit(0.5) * col("__ns")))
      .withColumn("__contrib",
        (col("__pc") - col("__pb")) * log(col("__pc") / col("__pb")))
    contrib.groupBy(groupCol)
      .agg(first(col("__tb")).as("n_base"), first(col("__tc")).as("n_cur"),
        aggregate(
          transform(array_sort(collect_list(struct(col("__bin"), col("__contrib")))),
            s => s.getField("__contrib")),
          lit(0.0), (acc, x) => acc + x).as("__psi"))
      .select(col(groupCol), col("n_base"), col("n_cur"),
        round(col("__psi"), 4).as("psi"))
  }

  /** Categorical PSI — the class-mix drift screen (label distribution,
    * source mix, event-type mix): slots are the BASELINE's categories
    * plus one `__OTHER__` bucket that absorbs categories the baseline
    * never saw (their appearance IS drift and must carry mass, not
    * vanish). Null categories normalize to a `__NULL__` slot on both
    * sides. Same smoothing + ordered-fold core as the numeric screen;
    * the baseline dictionary is groups × categories — broadcast-scale —
    * so the current-side pass is one broadcast join + one combinable
    * count. */
  def psiDriftCategorical(df: DataFrame, groupCol: String, catCol: String,
      isBaseline: Column): DataFrame = {
    val cat = coalesce(col(catCol).cast("string"), lit("__NULL__"))
    val base = df.filter(isBaseline)
      .groupBy(col(groupCol), cat.as("__bin"))
      .agg(count(lit(1)).as("__nb"))
    val baseSlots = base
      .unionByName(base.select(col(groupCol)).distinct()
        .withColumn("__bin", lit("__OTHER__"))
        .withColumn("__nb", lit(0L)))
      // collapse slot collisions: a REAL baseline category named
      // "__OTHER__" would otherwise coexist with the synthetic overflow
      // slot, and the left join below would fan current counts out to
      // both rows — double-counting them in every PSI denominator. The
      // sum-merge folds such a category into the overflow slot (its
      // mass scored together with unseen-category mass; same for a
      // literal "__NULL__" merging with real nulls) — a documented
      // sentinel-name merge, never a wrong total.
      .groupBy(col(groupCol), col("__bin")).agg(sum("__nb").as("__nb"))
    val curCounts = df.filter(!isBaseline)
      .select(col(groupCol), cat.as("__cat"))
      .join(broadcast(base.select(col(groupCol),
        col("__bin").as("__cat"), lit(1).as("__known"))),
        Seq(groupCol, "__cat"), "left")
      .withColumn("__bin",
        when(col("__known").isNotNull, col("__cat")).otherwise(lit("__OTHER__")))
      .groupBy(groupCol, "__bin").agg(count(lit(1)).as("__nc"))
    val slots = baseSlots
      .join(curCounts, Seq(groupCol, "__bin"), "left")
      .select(col(groupCol), col("__bin"), col("__nb"),
        coalesce(col("__nc"), lit(0L)).as("__nc"))
    psiFromSlots(slots, groupCol)
  }

  def hourlyTrend(df: DataFrame, tsCol: String,
      aggExprs: Seq[Column]): DataFrame =
    df.groupBy(date_trunc("hour", col(tsCol)).as("bucket_hour"))
      .agg(aggExprs.head, aggExprs.tail: _*)

  /** Cross-table reconciliation (the accounting-class DQ check): does a
    * header's stored total agree with the sum of its detail lines? Each
    * header is classified `matched` (|header − Σdetail| ≤ tol),
    * `mismatched`, or `no_detail` (no detail rows at all), and the
    * report is one row per class with the worst absolute discrepancy —
    * the first thing a pipeline audit asks of any fact/rollup pair.
    * One map-side-combined detail aggregate, one key join (header side
    * one row per key), one 3-row report: detail volume never reaches
    * the driver and the shuffle carries (key, sum) pairs. */
  def reconcileRollup(header: DataFrame, headerKey: String,
      headerVal: Column, detail: DataFrame, detailKey: String,
      detailVal: Column, tol: Double): DataFrame = {
    val sums = detail.groupBy(col(detailKey).as(headerKey))
      .agg(sum(detailVal).as("__s"))
    header.select(col(headerKey), headerVal.as("__h"))
      .join(sums, Seq(headerKey), "left")
      .withColumn("__diff", abs(col("__h") - col("__s")))
      .withColumn("recon_status",
        when(col("__s").isNull, lit("no_detail"))
          .when(col("__diff") <= tol, lit("matched"))
          .otherwise(lit("mismatched")))
      .groupBy("recon_status")
      .agg(count(lit(1)).as("n_keys"),
        round(coalesce(max("__diff"), lit(0.0)), 2).as("max_abs_diff"))
      .orderBy("recon_status")
  }

  /** Functional-dependency profile (the Deequ/metanome-style constraint
    * check): for each candidate FD `det → dep`, one row reporting how
    * many determinant groups exist, how many VIOLATE the dependency
    * (map to >1 distinct dependent value), and the worst fan-out. A
    * zero `n_violating` certifies the FD holds on this snapshot — the
    * evidence a schema-inference or key-discovery pass records. Each FD
    * is one grouped count-distinct (map-side partially aggregated) over
    * the determinant key reduced to a SINGLE row — the shuffle carries
    * (det, ndv) pairs, the result is candidate-FD-sized. Nulls follow
    * SQL semantics on both engines: a null determinant forms its own
    * group; null dependents don't count toward ndv. */
  def fdViolations(df: DataFrame, table: String,
      fds: Seq[(String, String)]): DataFrame = {
    require(fds.nonEmpty,
      "fdViolations needs at least one (determinant, dependent) candidate")
    fds.map { case (det, dep) =>
      df.groupBy(col(det))
        .agg(countDistinct(col(dep)).as("__ndv"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("__ndv") > 1, 1L).otherwise(0L)).as("__v"),
          max("__ndv").as("__m"))
        .select(lit(s"$table.$det->$dep").as("fd"),
          col("__n").cast("long").as("n_groups"),
          col("__v").cast("long").as("n_violating"),
          col("__m").cast("long").as("max_fanout"))
    }.reduce(_.unionByName(_))
  }
}
