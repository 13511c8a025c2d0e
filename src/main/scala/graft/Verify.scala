package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // same cached-plan coalescing posture as Bench (layout-only —
      // results are partitioning-independent by construction)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // a generated class that fails to compile fails its query instead
      // of falling back to interpreted evaluation, which only logs it
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def rmTree(target: java.nio.file.Path): Unit =
      if (Files.exists(target)) {
        // Using closes the walk stream — an unclosed walk leaks a
        // directory fd per pre-existing result dir across the loop
        scala.util.Using.resource(Files.walk(target)) { w =>
          w.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        }
      }
    // drop result dirs whose query no longer exists in the registry
    // (renamed/removed queries — e.g. q19_outlier_3sigma -> _2sigma):
    // the compare reads whatever dirs exist, so a stale dir from a
    // pre-rename run would be compared against nothing or, worse, an
    // identically-renamed future query. Keyed on the FULL registry, not
    // the SPARK_GRAFT_ONLY subset, so subset runs still compose. ONLY
    // dirs that are recognizably OUR output are touched — outDir is
    // user-supplied, and output from any OTHER Spark job co-located in
    // it must never be deleted, so a generic Hadoop _SUCCESS alone is
    // not enough: deletion keys on the graft-specific _GRAFT_RESULT
    // marker written alongside every result below, or (for results
    // from rounds that predate the marker) on _SUCCESS plus the
    // registry's query-id naming pattern.
    val queryIdShape = "^[a-z]\\d{2}_\\w+$".r
    scala.util.Using.resource(Files.list(Paths.get(outDir))) { ls =>
      ls.forEach { p =>
        val n = p.getFileName.toString
        val ours = Files.exists(p.resolve("_GRAFT_RESULT")) ||
          (Files.exists(p.resolve("_SUCCESS")) &&
            queryIdShape.matches(n))
        if (Files.isDirectory(p) && !SparkEntry.queries.contains(n) && ours)
          rmTree(p)
      }
    }
    // SPARK_GRAFT_ONLY subsetting (shared contract with Bench) —
    // local_verify compares whatever result dirs exist
    SparkEntry.selectedQueries.foreach { case (name, fn) =>
      // delete any PREVIOUS run's result dir up front: the compare reads
      // whatever dirs exist, so a query that THROWS this run would
      // otherwise leave last run's parquet behind and hash green —
      // a crash masked as a pass. With the dir gone, a failed query is
      // a missing result, which the compare reports loudly.
      val target = Paths.get(outDir, name)
      rmTree(target)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(target.toString)
        // graft-specific result marker: the stale-dir cleanup above keys
        // deletion on THIS file, never on the generic Hadoop _SUCCESS
        Files.createFile(target.resolve("_GRAFT_RESULT"))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // checkpoint blocks (invisible to clearCache) + SQL cache: both
      // released deterministically so 200+ queries in one session don't
      // accumulate dead storage blocks
      graft.operators.Caches.releaseAllPersistent(spark)
      spark.catalog.clearCache() // no cross-query cache bleed
      // storage-debt gate, same contract as Bench's: a persistent RDD
      // surviving the sweep means the release path broke — fail the run
      // rather than let dead blocks stack across 200+ queries
      val leaked = spark.sparkContext.getPersistentRDDs
      require(leaked.isEmpty,
        s"persistent-RDD leak after $name's sweep: ids ${leaked.keys.toSeq.sorted.take(8).mkString(",")} (${leaked.size} total)")
    }
    def q(s: String): String = "\"" + Bench.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
