package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan snapshot helpers: normalize a plan string so that
  * run-to-run noise (expression ids, plan ids, absolute paths, stats)
  * disappears and only STRUCTURE remains — the thing that must not
  * silently regress (a new shuffle, a lost broadcast, a cartesian
  * product slipping in). Used by [[graft.Explain]] to dump versioned
  * snapshots and by PlanRegressionSpec to gate changes.
  *
  * The one known churn source is gone: multi-distinct aggregates plan
  * through an Expand whose gid/group order follows the session-global
  * expression-id counter (adding a query elsewhere permuted g11's
  * snapshot); numericProfile now unpivots first and uses a single
  * distinct aggregate, so no declared query takes that path. Keep it
  * that way — prefer one distinct per aggregation in declared
  * queries. */
object PlanSnapshots {

  /** The pre-execution physical plan (for AQE plans this is the initial
    * plan — deterministic for fixed code + data, unlike the adaptively
    * re-optimized final plan). */
  def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#x")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("file:[^,\\s\\]\\)]*", "<path>")
    .replaceAll("Location [^,\\]]*\\[[^\\]]*\\]", "Location <path>")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
    // JVM lambda identities (class counter + address) change every run
    // and would re-dirty committed snapshots with structure-free diffs
    .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda\\$x")
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda\\$x")
    // higher-order-function lambda variables and CSE aliases carry
    // session-global counters (lambda x_35, _common_expr_8) whose values
    // depend on how many OTHER queries were planned first — adding a
    // query would re-dirty every snapshot after it in the dump order
    .replaceAll("lambda ([a-zA-Z]+)_\\d+", "lambda $1_n")
    .replaceAll("_common_expr_\\d+", "_common_expr_n")

  /** Shuffle exchanges only — BroadcastExchange is usually the GOOD
    * outcome and is counted separately. */
  def shuffleCount(plan: String): Int =
    plan.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange"))

  // ---- interior-plan audit (the probed plans of eager operators) ----
  //
  // The eager dedup/similarity tier (Caches.scoped) materializes during
  // query CONSTRUCTION, so the declared query's plan string is just the
  // checkpoint scan — the string-based gate above never sees the
  // operator internals. These walkers audit the REAL physical plans the
  // Caches.planProbe hook captures at materialization time, descending
  // through cached lineages and AQE wrappers, so the no-cartesian and
  // shuffle-budget gates reach the heaviest 41 queries too.

  /** Every node reachable from `p`, descending into cached-relation
    * lineages and AQE/stage wrappers (which toString does not print). */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** Distinct nodes across a probe buffer: a cached lineage scanned by
    * several InMemoryTableScans ran its exchanges once — node identity
    * (SparkPlan.id) dedupes it. */
  def distinctNodes(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(allNodes).distinctBy(_.id)

  def interiorShuffleCount(plans: Seq[SparkPlan]): Int =
    distinctNodes(plans).count(_.isInstanceOf[ShuffleExchangeExec])

  /** Reviewable text of an eager query's interior: each probed plan
    * tree, then every distinct cached lineage (toString stops at the
    * InMemoryTableScan, so the lineages are appended explicitly). */
  def interiorString(plans: Seq[SparkPlan]): String = {
    val cached = distinctNodes(plans).collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }.distinctBy(_.id)
    normalize((plans.map(_.toString()) ++
      cached.map(p => "=== cached lineage ===\n" + p.toString()))
      .mkString("\n"))
  }
}
