package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse catalog over parquet-backed tables.
  *
  * The reference keeps its tables in Snowflake (`CLIENT_BUY_ORDERS` et al.,
  * commands.sql:32-62); here a "warehouse" is a directory of parquet tables
  * read through Spark's vectorized reader. Table registration mirrors
  * Snowflake name resolution (SURVEY.md §1.1).
  */
object Tables {
  /** Driver-provided test tables (TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Driver testdata has shipped timestamps two ways across rounds:
    // TIMESTAMP(NANOS) (rejected by the vectorized reader — read nanos as
    // long, then truncate to microseconds, the same ns→µs truncation DuckDB
    // applies) and timestamp[us] without timezone (read as TIMESTAMP_NTZ).
    // Normalize both to TIMESTAMP (LTZ): the session timezone is pinned to
    // UTC everywhere, so NTZ→LTZ is value-preserving and downstream code
    // (`unix_micros`, interval arithmetic) sees one timestamp type
    // regardless of which generator wrote the file.
    // Set once per session: a conf write invalidates cached session
    // state, so doing it on every call taxes every reader.
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val nanosFixed = df.schema.fields.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) if name == "events" =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
    val ntz = nanosFixed.schema.fields.filter(
      _.dataType == org.apache.spark.sql.types.TimestampNTZType)
    ntz.foldLeft(nanosFixed)((d, f) =>
      d.withColumn(f.name, col(f.name).cast(org.apache.spark.sql.types.TimestampType)))
  }

  /** Register every table as a temp view so `spark.sql` resolves bare names,
    * the analog of Snowflake's `USE SCHEMA` + name resolution (A4:71-74). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** The warehouse's one date-partitioning convention: a derived
    * `p_date` (DATE) partition column off a timestamp column. Every
    * producer (CTAS, COPY INTO, the PII retention tier) derives it the
    * same way so every consumer — partition-pruned scans,
    * [[graft.pii.Masking.retentionDropPartitions]]' directory-level
    * retention — composes over any of their outputs. */
  val DatePartitionCol = "p_date"

  def withDatePartition(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn(DatePartitionCol, to_date(col(tsCol)))

  /** S10 `CREATE OR REPLACE TABLE ... AS SELECT` (commands.sql:126-128):
    * materialize a result as a parquet table.
    *
    * `partitionDateCol`: date-partition the table by `p_date =
    * to_date(<col>)` — the warehouse seam for time-organized fact
    * tables. At 100 TB this is what makes a date-range query touch
    * days, not the corpus: the scan plans `PartitionFilters` on
    * `p_date` and never lists the other partitions' files
    * (DatePartitionSpec proves pruning on a q14-shaped range scan),
    * and retention becomes a per-day directory drop instead of a
    * full rewrite. */
  def ctas(df: DataFrame, dir: String,
      partitionDateCol: Option[String] = None): Unit =
    partitionDateCol match {
      case Some(ts) => withDatePartition(df, ts)
        .write.mode("overwrite").partitionBy(DatePartitionCol).parquet(dir)
      case None => df.write.mode("overwrite").parquet(dir)
    }

  /** Register a scratch directory for recursive deletion at JVM exit —
    * for per-process scratch copies (q64's warehouse CTAS) that should
    * not accrete under java.io.tmpdir across runs. Idempotent per path;
    * best-effort (a killed JVM leaves the residue, which the
    * pid-keyed naming keeps from colliding with the next run). */
  private val exitDeletions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def deleteRecursivelyOnExit(dir: String): Unit =
    if (exitDeletions.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          val root = java.nio.file.Paths.get(dir)
          if (java.nio.file.Files.exists(root))
            scala.util.Using.resource(java.nio.file.Files.walk(root)) { w =>
              w.sorted(java.util.Comparator.reverseOrder())
                .forEach(p => java.nio.file.Files.deleteIfExists(p))
            }
        } catch { case scala.util.control.NonFatal(_) => () }))
    }

  /** Reap pid-keyed scratch dirs left by KILLED processes (SIGKILL
    * skips shutdown hooks): any `<prefix>..._pid<N>` under
    * java.io.tmpdir whose pid is no longer alive is dead scratch.
    * Best-effort and race-benign — a dir belongs to exactly one pid,
    * and a LIVE process's dir is never touched. */
  def reapDeadPidScratch(prefix: String): Unit =
    try {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      val pidTail = "_pid(\\d+)$".r
      Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory && f.getName.startsWith(prefix)) {
          pidTail.findFirstMatchIn(f.getName).foreach { m =>
            val alive = scala.util.Try(
              ProcessHandle.of(m.group(1).toLong)
                .map[Boolean](_.isAlive).orElse(false)).getOrElse(false)
            if (!alive && m.group(1).toLong != ProcessHandle.current().pid()) {
              val root = f.toPath
              scala.util.Using.resource(java.nio.file.Files.walk(root)) { w =>
                w.sorted(java.util.Comparator.reverseOrder())
                  .forEach(p => java.nio.file.Files.deleteIfExists(p))
              }
            }
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** S10 `CREATE TABLE IF NOT EXISTS ... LIKE` (A4:1038): an empty table
    * with the source's exact schema. */
  def createLike(spark: SparkSession, src: DataFrame, dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      src.schema).write.mode("ignore").parquet(dir)

  /** Swap-sibling naming: DOT-prefixed so that when `p` is a
    * `key=value` partition directory, crash residue (`.key=a__swap_old`)
    * is invisible to Spark partition discovery — a bare
    * `key=a__swap_old` sibling would be read back as a real partition
    * with a corrupted key, duplicating the backup's rows into the
    * table. */
  private def swapSibling(p: org.apache.hadoop.fs.Path,
      suffix: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}$suffix")

  /** Atomically replace the parquet table at `dir` with `next`'s
    * contents: write to a temp dir, then a checked two-rename swap.
    * Crash recovery on entry: a stale tmp is discardable (the swap
    * hadn't happened); a stale backup with the table gone IS the table;
    * a stale backup beside an intact table means only the final delete
    * was lost. Every rename is checked — a false return aborts (and
    * rolls back) rather than falling through to deleting the only
    * surviving copy. `next` MAY read lazily from `dir` itself: it is
    * fully written to the temp dir while the original files are still
    * in place, before any rename.
    *
    * `marker` (name → contents) is written INSIDE the staged directory
    * before the swap, so it commits atomically with the data — an
    * underscore-prefixed name is invisible to parquet readers.
    * [[summaryTable]] stamps its refresh time this way, so the stamp
    * and the data it describes commit together. */
  def replaceAtomic(spark: SparkSession, dir: String,
      next: DataFrame, marker: Option[(String, String)] = None): Unit = {
    // Path.getFileSystem, not FileSystem.get(new URI(dir)): a raw URI
    // parse rejects legal path characters (a space in a Hive partition
    // value) that Path's own parsing accepts
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = swapSibling(path, "__swap_tmp")
    val bak = swapSibling(path, "__swap_old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) {
      if (!fs.exists(path)) {
        if (!fs.rename(bak, path)) throw new java.io.IOException(
          s"replaceAtomic: crash recovery failed — could not restore $bak to $path")
      } else fs.delete(bak, true)
    }
    stageWrite(fs, tmp, next, marker)
    if (!fs.rename(path, bak)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(s"replaceAtomic: could not move $path aside")
    }
    if (!fs.rename(tmp, path)) {
      val restored = fs.rename(bak, path)
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"replaceAtomic: swap failed${if (restored) ", original restored" else
          s" AND restore failed — table preserved at $bak"}")
    }
    fs.delete(bak, true)
  }

  /** Restore `dir` from its [[replaceAtomic]] swap backup if a crash
    * landed between the two renames (settled dir missing, backup
    * present). Call BEFORE reading `dir` in any code path that may run
    * again after such a crash ([[graft.streaming.StreamApply]] reads
    * the snapshot before its replaceAtomic would get the chance to
    * self-heal — without this it crash-loops on the missing directory
    * forever). */
  def recoverReplaceAtomic(spark: SparkSession, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = swapSibling(path, "__swap_old")
    if (!fs.exists(path) && fs.exists(backup) && !fs.rename(backup, path))
      throw new java.io.IOException(
        s"swap recovery failed: could not restore $backup to $path")
  }

  /** Stage `next` (and an optional marker file) into `tmp` — the shared
    * pre-swap step of [[replaceAtomic]] and the summary-table first
    * materialization; one copy so crash-posture fixes can't diverge. */
  private def stageWrite(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, next: DataFrame,
      marker: Option[(String, String)]): Unit = {
    next.write.mode("overwrite").parquet(tmp.toString)
    marker.foreach { case (name, content) =>
      val out = fs.create(new org.apache.hadoop.fs.Path(tmp, name), true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Marker file carrying a summary table's last refresh epoch-millis —
    * underscore-prefixed so parquet readers skip it; written inside
    * [[replaceAtomic]]'s pre-swap tmp dir so it commits atomically WITH
    * the data it stamps. */
  val RefreshMarker = "_refreshed_at"

  /** Read a marker file committed atomically with its table by
    * [[replaceAtomic]]'s staged write — the ONE copy of the read half
    * of the marker protocol ([[summaryTable]]'s TTL stamp). */
  def readMarker(spark: SparkSession, dir: String,
      name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Result-cache tier — the engine analog of the reference dashboard's
    * `st.cache_data(ttl=300)` memoization (assignment5
    * streamlit_buy_orders_app.py:49-69, its one client-side
    * optimization): a materialized summary table served as-is while
    * younger than `ttlSeconds`, recomputed from `build` and atomically
    * swapped ([[replaceAtomic]]) once stale. A crash mid-swap leaves the
    * previous summary recoverable. `now` is injectable for deterministic
    * tests.
    *
    * Concurrency contract: ONE refresher at a time. The crash posture is
    * replaceAtomic's (single-writer rename dance, shared `__swap_tmp`
    * staging path, a rename-window where the directory briefly moves);
    * concurrent stale readers that all decide to refresh would race on
    * that staging path. Serialize refreshes — e.g. through a single
    * [[summaryRefreshTask]] in the pipeline's TaskGraph, the intended
    * wiring — and let plain readers hit the parquet directly.
    *
    * Scale posture: the summary is aggregate-sized, the refresh is one
    * Spark job, and every read between refreshes is a parquet scan of
    * the small summary — the dashboard never re-runs the fact-table
    * query inside the TTL window, which is the whole point at 100 TB. */
  def summaryTable(spark: SparkSession, dir: String, ttlSeconds: Long,
      now: () => Long = () => System.currentTimeMillis())
      (build: => DataFrame): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = readMarker(spark, dir, RefreshMarker)
      .exists(ts => now() - ts.toLong < ttlSeconds * 1000L)
    if (!fresh) {
      val stamp = Some(RefreshMarker -> now().toString)
      if (fs.exists(path)) replaceAtomic(spark, dir, build, stamp)
      else {
        // first materialization: stage + rename, same crash posture
        val tmp = swapSibling(path, "__swap_tmp")
        replaceAtomicFirstWrite(spark, fs, tmp, path, build, stamp)
      }
    }
    spark.read.parquet(dir)
  }

  private def replaceAtomicFirstWrite(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, tmp: org.apache.hadoop.fs.Path,
      path: org.apache.hadoop.fs.Path, next: DataFrame,
      marker: Option[(String, String)]): Unit = {
    if (fs.exists(tmp)) fs.delete(tmp, true)
    stageWrite(fs, tmp, next, marker)
    if (!fs.rename(tmp, path)) throw new java.io.IOException(
      s"summaryTable: could not move first materialization into $path")
  }

  /** The refresh-on-SCHEDULE form of [[summaryTable]] — the reference's
    * "summary tables refreshed by a task" tier (SURVEY §4): a
    * [[graft.flow.TaskDef]] that unconditionally rebuilds + swaps the
    * summary each time its schedule fires, for wiring into a
    * [[graft.flow.TaskGraph]] next to the rest of the pipeline DAG. */
  def summaryRefreshTask(spark: SparkSession, name: String, dir: String,
      everySeconds: Long)(build: => DataFrame): graft.flow.TaskDef =
    graft.flow.TaskDef(name,
      schedule = Some(graft.flow.Every(everySeconds)),
      body = () => { summaryTable(spark, dir, ttlSeconds = 0)(build); () })

  /** S9 row-at-a-time parameterized INSERT (README_teacher.md:336-342) —
    * retained as semantics only: in Spark a single-row append is a
    * tiny-DataFrame append (the reference itself documents this path as
    * far slower than batching; so do we). */
  def insertRow(spark: SparkSession, dir: String, row: org.apache.spark.sql.Row,
      schema: org.apache.spark.sql.types.StructType): Unit =
    spark.createDataFrame(java.util.List.of(row), schema)
      .write.mode("append").parquet(dir)
}
