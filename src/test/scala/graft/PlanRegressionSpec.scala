package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.plans.PlanSnapshots

/** Plan-shape regression gate over EVERY declared query at sf0.001:
  *
  *  - no CartesianProduct may ever appear (scalar-stat cross joins must
  *    compile to BroadcastNestedLoopJoin over a broadcast 1-row side);
  *  - the shuffle-exchange count per query must not EXCEED the
  *    checked-in budget (plans/exchange_budget.tsv, regenerated via
  *    `SPARK_GRAFT_PLAN_DIR=plans runMain graft.Explain`) — a new
  *    shuffle is a deliberate, reviewed change, not a silent one.
  *
  * The eager dedup/similarity operators (Caches.scoped) materialize
  * during construction, so their recorded top-level plan is just the
  * checkpoint scan — for THOSE, the gate additionally captures their
  * interior physical plans via [[graft.operators.Caches.planProbe]] at
  * materialization time and applies the same no-cartesian +
  * shuffle-budget checks to the probed interiors (budget rows keyed
  * `name#interior` in plans/exchange_budget.tsv, snapshot text in
  * plans/name.interior.txt). A regression inside cosinePairs or
  * ivfPqTopK fails here, not just in the bench total.
  *
  * Planning time is what [[planningMs]] reads off the built frame's own
  * QueryExecution, so queries that run Spark jobs while being BUILT
  * (q64's warehouse CTAS, v23's CC loop, t32's BPE loop, the eager
  * operators) are charged only for planning their final plan.
  */
class PlanRegressionSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  // analysis+optimization+physical-planning time budget per query: the
  // round-5 PCA regression was an unrolled-expression tree that cost
  // seconds to PLAN before a single row moved, and it poisoned the
  // whole driver bench (JIT compile storm). Catch the next one here.
  // 1.5s is ~15x the typical heavy plan.
  private val planBudgetMs = 1500L

  /** Analysis + optimization + physical planning of `df`'s own
    * QueryExecution, from its planning tracker after the executed plan
    * is forced. Data work done while building `df` ran under other
    * QueryExecutions and is not counted. */
  private def planningMs(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    df.queryExecution.executedPlan
    val phases = df.queryExecution.tracker.phases
    Seq(ANALYSIS, OPTIMIZATION, PLANNING).flatMap(phases.get)
      .map(_.durationMs).sum
  }

  private lazy val budgets: Map[String, Int] = {
    val p = Paths.get("plans/exchange_budget.tsv")
    assert(Files.exists(p),
      "plans/exchange_budget.tsv missing — regenerate with " +
        "SPARK_GRAFT_PLAN_DIR=plans sbt \"runMain graft.Explain\"")
    Files.readAllLines(p).asScala.filter(_.nonEmpty)
      .map { l => val Array(n, c) = l.split("\t"); n -> c.toInt }.toMap
  }

  test("no declared query plans a CartesianProduct; shuffles within budget; planning stays cheap") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    // first plan in the JVM pays class-loading warmup: plan one untimed
    SparkEntry.queries("q01_count_global")(spark, sfDir).queryExecution.executedPlan
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // capture eager operators' interior plans during construction
      // (AQE off so exchanges are plain nodes, matching how the
      // budgets were recorded; restored before the top plan evaluates
      // so declared-plan snapshots/counts are unaffected)
      val probed = scala.collection.mutable.Buffer
        .empty[org.apache.spark.sql.execution.SparkPlan]
      graft.operators.Caches.planProbe.set(probed)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df =
        try fn(spark, sfDir)
        finally {
          spark.conf.set("spark.sql.adaptive.enabled", "true")
          graft.operators.Caches.planProbe.remove()
        }
      val plan = PlanSnapshots.normalize(PlanSnapshots.planString(df))
      val planMs = planningMs(df)
      if (planMs > planBudgetMs) {
        // re-plan once before flagging: a GC pause or noisy neighbor
        // can breach the budget on a loaded host — only a REPEATABLE
        // breach is a plan-weight regression
        val retryMs = planningMs(fn(spark, sfDir))
        if (retryMs > planBudgetMs)
          offenders += s"$name: planning took ${planMs}ms then ${retryMs}ms" +
            s" > ${planBudgetMs}ms"
      }
      if (PlanSnapshots.hasCartesian(plan))
        offenders += s"$name: CartesianProduct in plan"
      val shuffles = PlanSnapshots.shuffleCount(plan)
      budgets.get(name).foreach { budget =>
        if (shuffles > budget)
          offenders += s"$name: $shuffles shuffle exchanges > budget $budget"
      }
      // interior gate: every probed (eager) query must have a recorded
      // interior budget, no interior cartesian, and interior shuffles
      // within that budget — this is the check the checkpoint scan at
      // the top level would otherwise hide
      if (probed.nonEmpty) {
        if (PlanSnapshots.interiorHasCartesian(probed.toSeq))
          offenders += s"$name: CartesianProduct in interior (probed) plan"
        val interior = PlanSnapshots.interiorShuffleCount(probed.toSeq)
        budgets.get(s"$name#interior") match {
          case Some(budget) =>
            if (interior > budget)
              offenders += s"$name: $interior interior shuffle exchanges" +
                s" > budget $budget"
          case None =>
            offenders += s"$name: eager query with no $name#interior row in" +
              " plans/exchange_budget.tsv — regenerate with" +
              " SPARK_GRAFT_PLAN_DIR=plans sbt \"runMain graft.Explain\""
        }
      }
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the planning bar catches an unrolled per-dimension expression tree (the round-5 PCA shape)") {
    // the round-5 PCA form: every stage spelled out per dimension
    // (Pca.planText, kept as the DuckDB oracle text), here over seeded
    // random vectors — the data is irrelevant, the plan weight is not.
    // dim 768 (a common embedding width) is where that form was
    // unusable; its planning alone is several times the bar
    val dim = 768
    val rng = new scala.util.Random(5)
    import spark.implicits._
    Seq.fill(32)(Seq.fill(dim)(rng.nextDouble() * 2 - 1)).toDF("v")
      .createOrReplaceTempView("pca_unrolled_vecs")
    val t = graft.operators.Pca.planText(dim, i => s"v[${i - 1}]")
    val unrolled = spark.sql(
      s"""WITH stats AS (SELECT ${t.statsAggs.mkString(", ")}
         |  FROM pca_unrolled_vecs),
         |m AS (SELECT ${t.meanSelects.mkString(", ")} FROM stats),
         |p1 AS (SELECT ${t.dot0} AS dot0, v, m.* FROM pca_unrolled_vecs, m),
         |it1 AS (SELECT ${t.it1Aggs.mkString(", ")} FROM p1),
         |v1 AS (SELECT ${t.v1Selects.mkString(", ")}
         |  FROM (SELECT *, ${t.norm1} AS norm1 FROM it1)),
         |p2 AS (SELECT ${t.dot1} AS dot1, v, m.*, v1.*
         |  FROM pca_unrolled_vecs, m, v1),
         |it2 AS (SELECT ${t.it2Aggs.mkString(", ")} FROM p2)
         |SELECT *, ${t.norm2} AS norm2 FROM it2, m""".stripMargin)
    val ms = planningMs(unrolled)
    info(s"unrolled dim=$dim plan: ${ms}ms against the ${planBudgetMs}ms bar")
    assert(ms > planBudgetMs,
      s"the planning bar no longer catches the unrolled PCA shape (${ms}ms)")
  }

  test("filter queries push their predicates into the parquet scan") {
    // the scans must carry PushedFilters — a filter evaluated only
    // post-scan reads the whole table at 100 TB
    val filterQueries = Seq("q11_filter_compare", "q12_between",
      "q13_in_list", "q16_null_pred")
    filterQueries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val scanLines = PlanSnapshots.planString(df).linesIterator
        .filter(_.contains("PushedFilters"))
        .toSeq
      assert(scanLines.exists(l => l.contains("PushedFilters: [") &&
          !l.contains("PushedFilters: []")),
        s"$name: no non-empty PushedFilters in scan\n" +
          scanLines.mkString("\n"))
    }
  }

  test("every declared query has a recorded exchange budget") {
    val missing = SparkEntry.queries.keySet -- budgets.keySet
    assert(missing.isEmpty,
      s"queries without a plan snapshot budget: ${missing.toSeq.sorted.mkString(", ")}")
  }
}
