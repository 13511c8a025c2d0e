package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.dq.DqChecks

class DqChecksSpec extends SparkSuite {
  import spark.implicits._

  test("reconcileRollup classifies matched, mismatched, and detail-less headers") {
    val header = Seq((1L, 30.0), (2L, 99.0), (3L, 7.5)).toDF("k", "total")
    val detail = Seq((1L, 10.0), (1L, 20.0), (2L, 50.0)).toDF("dk", "amt")
    val got = DqChecks.reconcileRollup(header, "k", col("total"),
        detail, "dk", col("amt"), tol = 0.01)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(
      "matched" -> ((1L, 0.0)),       // 30 == 10+20
      "mismatched" -> ((1L, 49.0)),   // |99 − 50|
      "no_detail" -> ((1L, 0.0))))    // key 3 has no lines
  }

  test("duplicates keeps only keys with more than one row") {
    val d = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("k", "v")
    val out = DqChecks.duplicates(d, Seq("k")).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 2L)))
  }

  test("rangeViolations flags nulls, out-of-range, and future timestamps") {
    val asOf = Timestamp.valueOf("2024-01-02 00:00:00")
    val d = Seq(
      (1, Some(5.0), Timestamp.valueOf("2024-01-01 00:00:00")),  // ok
      (2, None, Timestamp.valueOf("2024-01-01 00:00:00")),       // null
      (3, Some(-1.0), Timestamp.valueOf("2024-01-01 00:00:00")), // low
      (4, Some(99.0), Timestamp.valueOf("2024-01-01 00:00:00")), // high
      (5, Some(5.0), Timestamp.valueOf("2024-01-03 00:00:00")))  // future
      .toDF("id", "v", "ts")
    val out = DqChecks.rangeViolations(d, "v", 0, 10, "ts", lit(asOf))
      .select("id").as[Int].collect().sorted
    assert(out.toSeq === Seq(2, 3, 4, 5))
  }

  test("rangeViolations flags null timestamps (staleness unverifiable)") {
    val asOf = Timestamp.valueOf("2024-01-02 00:00:00")
    val d = Seq(
      (1, Some(5.0), Some(Timestamp.valueOf("2024-01-01 00:00:00"))),
      (2, Some(5.0), None)) // in-range value, but ts unknown
      .toDF("id", "v", "ts")
    // without the explicit isNull arm, `ts > asOf` evaluates NULL and
    // the whole OR lets row 2 silently pass the G2 check
    val out = DqChecks.rangeViolations(d, "v", 0, 10, "ts", lit(asOf))
      .select("id").as[Int].collect().toSeq
    assert(out === Seq(2))
  }

  test("orphanCount: null child keys are not orphans (MATCH SIMPLE FK semantics)") {
    val child = Seq(Some(1L), Some(2L), None, None).toDF("fk")
    val parent = Seq(1L).toDF("pk")
    val n = DqChecks.orphanCount(child, "fk", parent, "pk", "c_p")
      .select("n_orphans").as[Long].collect()(0)
    // only fk=2 is a real violation; the two null FKs are optional refs
    assert(n === 1L)
  }

  test("psiDriftCategorical: a real category named __OTHER__ is not double-counted") {
    // baseline holds the literal string __OTHER__ as a genuine category;
    // the synthetic overflow slot must merge with it, not coexist (a
    // duplicate slot fans the current counts out and corrupts every
    // PSI denominator)
    val d = Seq(
      ("g", "__OTHER__", true), ("g", "a", true), ("g", "a", true),
      ("g", "__OTHER__", false), ("g", "a", false), ("g", "zz", false))
      .toDF("grp", "cat", "base")
    val out = DqChecks.psiDriftCategorical(d, "grp", "cat", col("base"))
      .collect()
    assert(out.length === 1, "one PSI row per group, no slot fan-out")
    val psi = out(0).getAs[Double]("psi")
    // identical-ish mix: finite, small — NaN/inflation would betray the
    // double-count
    assert(!psi.isNaN && psi >= 0.0 && psi < 5.0)
  }

  test("nullProfile counts nulls per column in one pass") {
    val d = Seq((Some(1), Option.empty[String]), (None, Some("x")),
      (None, Some("y"))).toDF("a", "b")
    val out = DqChecks.nullProfile(d, Seq("a", "b")).orderBy("metric_name")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("null_a", 2L), ("null_b", 1L)))
  }

  test("formatViolations flags non-matching and null values") {
    val d = Seq(("1", "12-345"), ("2", "bad"), ("3", null))
      .toDF("id", "phone")
    val out = DqChecks.formatViolations(d, "phone", "^[0-9]{2}-[0-9]{3}$")
      .select("id").as[String].collect().sorted
    assert(out.toSeq === Seq("2", "3"))
  }

  test("sigmaOutliers keeps values beyond mean + n*sd") {
    val vals = Seq.fill(50)(10.0) :+ 1000.0
    val d = vals.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    val out = DqChecks.sigmaOutliers(d, "v", 2.0).select("id").as[Int].collect()
    assert(out.toSeq === Seq(50))
  }

  test("metricsBatch computes named ratios in one agg and unpivots") {
    val d = Seq((1, "x"), (-1, "y"), (2, null)).toDF("n", "s")
    val out = DqChecks.metricsBatch(d, "grp", Seq(
        "pos_n" -> (col("n") > 0), "non_null_s" -> col("s").isNotNull))
      .orderBy("metric_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out === Seq(("grp", "non_null_s", 0.666667), ("grp", "pos_n", 0.666667)))
  }

  test("latestPerMetric keeps the newest row per metric") {
    val d = Seq(
      ("g", "m1", 1.0, Timestamp.valueOf("2024-01-01 00:00:00")),
      ("g", "m1", 2.0, Timestamp.valueOf("2024-01-02 00:00:00")),
      ("g", "m2", 3.0, Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("metric_group", "metric_name", "metric_value", "computed_at")
    val out = DqChecks.latestPerMetric(d).orderBy("metric_name").collect()
      .map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(out === Seq(("m1", 2.0), ("m2", 3.0)))
  }

  test("thresholdAlerts fires only below threshold") {
    val m = Seq(("g", "m1", 0.5), ("g", "m2", 0.99))
      .toDF("metric_group", "metric_name", "metric_value")
    val th = Seq(("m1", 0.9), ("m2", 0.9)).toDF("metric_name", "threshold")
    val out = DqChecks.thresholdAlerts(m, th).select("metric_name")
      .as[String].collect()
    assert(out.toSeq === Seq("m1"))
  }

  test("hourlyTrend buckets by hour") {
    val d = Seq(
      (Timestamp.valueOf("2024-01-01 10:15:00"), 1.0),
      (Timestamp.valueOf("2024-01-01 10:45:00"), 3.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), 5.0)).toDF("ts", "v")
    val out = DqChecks.hourlyTrend(d, "ts", Seq(count(lit(1)).as("n"),
        avg("v").as("m"))).orderBy("bucket_hour").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(out === Seq((2L, 2.0), (1L, 5.0)))
  }

  test("g12 sketch MAD screen: rank gates green, outlier count matches exact twin") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_extendedprice").as("x"))
    // the EXACT screen (full value buffer — the spec-only form; the
    // declared query carries the sketch + rank-gate shape)
    val med = li.agg(percentile(col("x"), lit(0.5))).head.getDouble(0)
    val mad = li.agg(percentile(abs(col("x") - med), lit(0.5))).head.getDouble(0)
    val exactOut = li.filter(abs(col("x") - med) > 3.0 * 1.4826 * mad).count()
    // the sketch thresholds reproduce the same screen at this scale
    val medA = li.agg(percentile_approx(col("x"), lit(0.5), lit(2000)))
      .head.getDouble(0)
    val madA = li.agg(percentile_approx(abs(col("x") - medA), lit(0.5), lit(2000)))
      .head.getDouble(0)
    val sketchOut = li.filter(abs(col("x") - medA) > 3.0 * 1.4826 * madA).count()
    assert(sketchOut === exactOut)
    // and the declared query's rank gates hold
    val row = SparkEntry.queries("g12_mad_outliers")(spark, sf0001).head
    assert(row.getAs[Int]("ok_med") === 1)
    assert(row.getAs[Int]("ok_mad") === 1)
  }

  test("psiDriftCategorical: unseen category carries mass, identical mix ≈ 0, nulls slotted") {
    val mk = (base: Int, cats: Seq[String]) => cats.map(c => (base, "g", c))
    // identical mixes → only smoothing noise
    val same = (mk(1, Seq.fill(50)("a") ++ Seq.fill(50)("b")) ++
      mk(0, Seq.fill(50)("a") ++ Seq.fill(50)("b"))).toDF("base", "k", "c")
    val psiSame = DqChecks.psiDriftCategorical(same, "k", "c", col("base") === 1)
      .head.getAs[Double]("psi")
    assert(psiSame < 0.01, s"identical mixes scored psi=$psiSame")
    // a category the baseline never saw lands in __OTHER__ and drifts
    val novel = (mk(1, Seq.fill(100)("a")) ++
      mk(0, Seq.fill(50)("a") ++ Seq.fill(50)("zzz_new"))).toDF("base", "k", "c")
    val out = DqChecks.psiDriftCategorical(novel, "k", "c", col("base") === 1).head
    assert(out.getAs[Double]("psi") > 0.5)
    assert(out.getAs[Long]("n_base") === 100L && out.getAs[Long]("n_cur") === 100L)
    // null categories are a REAL slot on both sides, not dropped
    val nulls = (Seq((1, "g", null: String), (1, "g", "a")) ++
      Seq((0, "g", null: String), (0, "g", "a"))).toDF("base", "k", "c")
    val outN = DqChecks.psiDriftCategorical(nulls, "k", "c", col("base") === 1).head
    assert(outN.getAs[Long]("n_base") === 2L && outN.getAs[Long]("n_cur") === 2L)
  }

  test("psiDrift: identical distribution ≈ 0, shifted distribution large, clamped") {
    val mk = (side: Int, vs: Seq[Double]) => vs.map(v => (side, "g", v))
    // identical baseline/current → psi only reflects smoothing noise
    val same = (mk(1, (1 to 100).map(_.toDouble * 0.1)) ++
      mk(0, (1 to 100).map(_.toDouble * 0.1))).toDF("base", "k", "v")
    val psiSame = DqChecks.psiDrift(same, "k", "v", col("base") === 1)
      .head.getAs[Double]("psi")
    assert(psiSame < 0.01, s"identical dists scored psi=$psiSame")
    // current mass shifted wholly above the baseline range clamps into
    // the top bin → a large PSI, not a crash or silent drop
    val shifted = (mk(1, (1 to 100).map(_.toDouble * 0.1)) ++
      mk(0, (1 to 100).map(v => 100.0 + v))).toDF("base", "k", "v")
    val out = DqChecks.psiDrift(shifted, "k", "v", col("base") === 1).head
    assert(out.getAs[Double]("psi") > 1.0)
    assert(out.getAs[Long]("n_base") === 100L && out.getAs[Long]("n_cur") === 100L)
    // a group with no baseline rows has no yardstick and is not scored
    val mixed = (mk(1, Seq(1.0, 2.0)) ++ mk(0, Seq(1.5)) ++
      Seq((0, "h", 9.0))).toDF("base", "k", "v")
    val groups = DqChecks.psiDrift(mixed, "k", "v", col("base") === 1)
      .select("k").as[String].collect().toSet
    assert(groups === Set("g"))
  }

  test("psiDrift: a constant baseline still flags drift away from it") {
    val mk = (side: Int, vs: Seq[Double]) => vs.map(v => (side, "g", v))
    // degenerate yardstick (lo = hi): values moving off the constant
    // must land outside bin 0 and carry PSI mass — all-bin-0 binning
    // would report 0 exactly where the screen should fire
    val drifted = (mk(1, Seq.fill(50)(5.0)) ++
      mk(0, (1 to 50).map(_.toDouble))).toDF("base", "k", "v")
    val out = DqChecks.psiDrift(drifted, "k", "v", col("base") === 1).head
    assert(out.getAs[Double]("psi") > 1.0,
      s"constant-baseline drift scored psi=${out.getAs[Double]("psi")}")
    // a still-constant current stays ≈ 0 (both sides in bin 0)
    val still = (mk(1, Seq.fill(50)(5.0)) ++ mk(0, Seq.fill(50)(5.0)))
      .toDF("base", "k", "v")
    val psiStill = DqChecks.psiDrift(still, "k", "v", col("base") === 1)
      .head.getAs[Double]("psi")
    assert(psiStill < 0.01, s"constant/constant scored psi=$psiStill")
  }
}
