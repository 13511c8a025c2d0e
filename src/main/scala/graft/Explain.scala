package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.plans.PlanSnapshots

/** Plan-inspection main: prints the formatted physical plan of selected
  * queries (all of them with no args). Used to keep the plans honest —
  * pushed filters reaching the parquet scan, broadcast joins on dim
  * tables, TakeOrderedAndProject for top-k, whole-stage codegen spans.
  *
  * With SPARK_GRAFT_PLAN_DIR set, also dumps a NORMALIZED plan snapshot
  * per query plus `exchange_budget.tsv` (query → shuffle-exchange
  * count; a run over named queries updates only their rows) — the
  * versioned artifacts PlanRegressionSpec gates against:
  * a diff on these files is a deliberate, reviewed plan change, never a
  * silent regression. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val budget = new StringBuilder
    names.foreach { n =>
      // probe the interior plans of eager (Caches.scoped) queries while
      // the query function CONSTRUCTS (and thus materializes) them. AQE
      // is off during construction so the captured plans expose plain
      // ShuffleExchange nodes (deterministic counts); it is restored
      // before the top-level plan is evaluated, so the declared-plan
      // snapshots are unaffected.
      val probed = scala.collection.mutable.Buffer
        .empty[org.apache.spark.sql.execution.SparkPlan]
      graft.operators.Caches.planProbe.set(probed)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df =
        try SparkEntry.queries(n)(spark, sfDir)
        finally {
          spark.conf.set("spark.sql.adaptive.enabled", "true")
          graft.operators.Caches.planProbe.remove()
        }
      planDir match {
        case Some(dir) =>
          Files.createDirectories(Paths.get(dir))
          val norm = PlanSnapshots.normalize(PlanSnapshots.planString(df))
          Files.writeString(Paths.get(dir, s"$n.txt"), norm)
          budget ++= s"$n\t${PlanSnapshots.shuffleCount(norm)}\n"
          if (probed.nonEmpty) {
            budget ++= s"$n#interior\t${PlanSnapshots.interiorShuffleCount(probed.toSeq)}\n"
            Files.writeString(Paths.get(dir, s"$n.interior.txt"),
              PlanSnapshots.interiorString(probed.toSeq))
          }
          spark.catalog.clearCache()
        case None =>
          println(s"========== $n ==========")
          df.explain("formatted")
          if (probed.nonEmpty) {
            println(s"---------- $n interior (probed) ----------")
            println(PlanSnapshots.interiorString(probed.toSeq))
          }
          // same per-query cache hygiene as snapshot mode: the eager
          // (Caches.scoped) queries leave checkpoint blocks behind —
          // ~40 of them accumulated over a full print run exhaust a
          // small driver JVM near the end
          spark.catalog.clearCache()
      }
    }
    planDir.foreach { dir =>
      val file = Paths.get(dir, "exchange_budget.tsv")
      // a full run rewrites the file, dropping rows of removed queries
      val existing =
        if (args.nonEmpty && Files.exists(file))
          Files.readAllLines(file).asScala.toSeq
        else Nil
      Files.writeString(file, mergeBudget(existing, names.toSet,
        budget.toString.linesIterator.toSeq).map(_ + "\n").mkString)
    }
    spark.stop()
  }

  /** The budget file after a run over `names`: rows of every other
    * query are kept from `existing`, this run's `fresh` rows replace the
    * named queries' rows (`q` and `q#interior` alike), and rows are
    * sorted by key — so a subset run rewrites only its own rows and the
    * file reads the same as after a full run. */
  private[graft] def mergeBudget(existing: Seq[String], names: Set[String],
      fresh: Seq[String]): Seq[String] = {
    def key(row: String) = row.takeWhile(_ != '\t')
    (existing.filter(r => r.nonEmpty && !names(key(r).takeWhile(_ != '#'))) ++
      fresh).sortBy(key)
  }
}
