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
    * retention, [[purgeRows]]' partition-filtered rewrite — composes
    * over any of their outputs. */
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

  /** Bucketed table write: co-locates rows by join key so repeated
    * big-big joins/aggregations on that key run WITHOUT a shuffle (both
    * sides pre-partitioned the same way). At 100 TB this converts every
    * fact⋈fact join on the bucket key from a full-network exchange into
    * a local zip of bucket files. Requires the session catalog
    * (`saveAsTable`); bucket count should match target parallelism. */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)

  /** Small-file compaction: rewrite a parquet table into
    * ~`targetBytes`-sized files. Streaming sinks and row-at-a-time
    * appends accrete thousands of KB-scale files; at 100 TB the scan's
    * task-scheduling and footer-reading overhead then dominates I/O.
    * Sizing comes from the actual on-disk bytes (not a row-count
    * guess); the rewrite is an atomic swap via a temp dir so a reader
    * never sees a half-compacted table. Returns (filesBefore,
    * filesAfter). */
  /** Atomically replace the parquet table at `dir` with `next`'s
    * contents: write to a temp dir, then a checked two-rename swap.
    * Crash recovery on entry: a stale tmp is discardable (the swap
    * hadn't happened); a stale backup with the table gone IS the table;
    * a stale backup beside an intact table means only the final delete
    * was lost. Every rename is checked — a false return aborts (and
    * rolls back) rather than falling through to deleting the only
    * surviving copy. `next` MAY read lazily from `dir` itself: it is
    * fully written to the temp dir while the original files are still
    * in place, before any rename. */
  /** `marker` (name → contents) is written INSIDE the staged directory
    * before the swap, so it commits atomically with the data — an
    * underscore-prefixed name is invisible to parquet readers. Callers
    * use it to make a swap idempotent (e.g. [[graft.streaming
    * .StreamRollup]] records the applied micro-batch id: a crash-replayed
    * batch sees its own id already committed and skips). */
  /** Swap-sibling naming: DOT-prefixed so that when `p` is a
    * `key=value` partition directory, crash residue (`.key=a__swap_old`)
    * is invisible to Spark partition discovery and to the partition
    * filters in [[compactTable]]/[[purgeRows]] — a bare `key=a__swap_old`
    * sibling would be read back as a real partition with a corrupted
    * key, duplicating the backup's rows into the table. */
  private def swapSibling(p: org.apache.hadoop.fs.Path,
      suffix: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}$suffix")

  def replaceAtomic(spark: SparkSession, dir: String,
      next: DataFrame, marker: Option[(String, String)] = None): Unit = {
    // Path.getFileSystem, not FileSystem.get(new URI(dir)): a raw URI
    // parse rejects legal path characters (a space in a Hive partition
    // value reaches here via purgeRows) that Path's own parsing accepts
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

  /** Recover from a temp-and-swap crash that landed between the two
    * renames (settled dir missing, backup present): restore the backup,
    * so a crashed maintenance op heals on its next run instead of
    * failing unrecoverably on the missing settled table. */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      backup: org.apache.hadoop.fs.Path): Unit =
    if (!fs.exists(target) && fs.exists(backup) && !fs.rename(backup, target))
      throw new java.io.IOException(
        s"swap recovery failed: could not restore $backup to $target")

  /** [[recoverSwap]] for a [[replaceAtomic]]-managed directory, by
    * path: restores `dir` from its swap backup if a crash landed
    * between the two renames. Call BEFORE reading `dir` in any code
    * path that may run again after such a crash (the streaming
    * maintainers [[graft.streaming.StreamRollup]] /
    * [[graft.streaming.StreamApply]] read the snapshot before their
    * replaceAtomic would get the chance to self-heal — without this
    * they crash-loop on the missing directory forever). */
  def recoverReplaceAtomic(spark: SparkSession, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, path, swapSibling(path, "__swap_old"))
  }

  /** Restore every partition directory under `dir` whose swap crashed
    * between the two renames (backup residue `.k=v__swap_old` present,
    * settled dir missing) — the table-level heal [[compactTable]] and
    * [[purgeRows]] run at entry, so a crashed per-partition swap is
    * repaired by the next maintenance pass instead of silently serving
    * the table without that partition's rows. */
  private def healSwapResidue(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(path))
      fs.listStatus(path).toSeq
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(".") &&
          s.getPath.getName.endsWith("__swap_old"))
        .foreach { s =>
          val target = new org.apache.hadoop.fs.Path(path,
            s.getPath.getName.stripPrefix(".").stripSuffix("__swap_old"))
          recoverSwap(fs, target, s.getPath)
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

  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles = fs.listStatus(path)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    // partitioned layouts (subdirectories) would be flattened by a blind
    // rewrite — refuse loudly rather than destroy the layout
    if (fs.listStatus(path).exists(s => s.isDirectory &&
        !s.getPath.getName.startsWith("_")))
      throw new IllegalArgumentException(
        s"compact: $dir contains partition subdirectories; compact each " +
          "partition directory individually to preserve the layout")
    val before = parquetFiles
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    replaceAtomic(spark, dir, spark.read.parquet(dir).repartition(nFiles))
    (before.length, parquetFiles.length)
  }

  /** [[compact]] for a possibly-partitioned parquet table: each
    * `key=value` partition directory is compacted individually (the
    * layout-preserving discipline [[compact]] itself enforces); a flat
    * directory is compacted directly. Pure layout change — append-mode
    * writers pile files per partition, this folds the pile. Returns
    * (files before, files after) summed over partitions. Same
    * concurrency contract as [[compact]]: one compactor, not
    * concurrent with readers of the same partition. */
  def compactTable(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a TABLE-level crashed swap first: with the settled dir gone
    // and only the backup sibling present, the missing-dir early return
    // below would report success over a vanished table forever
    recoverSwap(fs, path, swapSibling(path, "__swap_old"))
    if (!fs.exists(path)) return (0, 0)
    healSwapResidue(fs, path)
    val partDirs = fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
    if (partDirs.isEmpty) compact(spark, dir, targetBytes)
    else partDirs.map(d => compact(spark, d.getPath.toString, targetBytes))
      .foldLeft((0, 0)) { case ((b, a), (pb, pa)) => (b + pb, a + pa) }
  }

  /** Physically delete the rows of a parquet table whose `idColName`
    * appears in `ids` — the purge half of a tombstone-delete protocol
    * (the read half is [[antiTombstones]]). Cost ∝ AFFECTED partitions:
    * for a `key=value`-partitioned layout one column-pruned semi-join
    * scan finds the partitions that actually hold victim rows, and only
    * those directories are rewritten (each via [[replaceAtomic]]'s
    * staged-write-then-rename swap — a crash never loses a partition);
    * untouched partitions keep their files byte-identical. A flat
    * directory is rewritten whole, but only if it holds victims at all.
    * At 100 TB with rare deletes (the GDPR/right-to-be-forgotten shape)
    * this touches a handful of directories, never the corpus.
    * Concurrency contract: one purger, not concurrent with readers of
    * the affected partitions ([[replaceAtomic]]'s contract). */
  def purgeRows(spark: SparkSession, dir: String, idColName: String,
      ids: DataFrame): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same table-level heal as compactTable: purge must restore a
    // crashed swap, not skip the "missing" table
    recoverSwap(fs, path, swapSibling(path, "__swap_old"))
    if (!fs.exists(path)) return
    healSwapResidue(fs, path)
    val victims = broadcast(
      ids.select(col(ids.columns.head).as(idColName)).distinct())
    val partDirs = fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
    if (partDirs.isEmpty) {
      if (!spark.read.parquet(dir)
          .join(victims, Seq(idColName), "left_semi").isEmpty)
        replaceAtomic(spark, dir,
          spark.read.parquet(dir).join(victims, Seq(idColName), "left_anti"))
    } else {
      // a SECOND partition level would be flattened by the per-directory
      // rewrite below (the anti-join result carries the nested key as a
      // data column and replaceAtomic's staged write does not partition
      // it back out) — after which partition discovery on the table root
      // hits "Conflicting directory structures" and the WHOLE table is
      // unreadable. Refuse loudly, like compact() does for its layout.
      partDirs.foreach { d =>
        val nested = fs.listStatus(d.getPath).exists(s =>
          s.isDirectory && s.getPath.getName.contains("=") &&
            !s.getPath.getName.startsWith(".") &&
            !s.getPath.getName.startsWith("_"))
        require(!nested,
          s"purgeRows: ${d.getPath} holds nested partition directories; " +
            "multi-level partitioned tables need a purge per leaf " +
            "directory to preserve the layout")
      }
      val partCol = partDirs.head.getPath.getName.split("=", 2)(0)
      // partition type inference OFF for the discovery read: an
      // inferred numeric type re-renders the value ("01" reads back as
      // 1), so the rebuilt leaf would miss the writer's directory —
      // with inference disabled the value is the path's literal string
      val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val inferWas = spark.conf.get(inferKey)
      val affected =
        try {
          spark.conf.set(inferKey, "false")
          spark.read.parquet(dir)
            .join(victims, Seq(idColName), "left_semi")
            .select(col(partCol).cast("string")).distinct()
            .collect().map(r => Option(r.getString(0)))
            .toSeq // bounded by the partition count
        } finally spark.conf.set(inferKey, inferWas)
      affected.foreach { vOpt =>
        // rebuild the directory name the way the WRITER did: special
        // characters are Hive-escaped in partition paths and a null
        // partition value lands in the default-partition dir — a raw
        // "$partCol=$v" would miss (or crash on) both
        val leaf = vOpt match {
          case Some(v) => s"$partCol=" + org.apache.spark.sql.catalyst
            .catalog.ExternalCatalogUtils.escapePathName(v)
          case None => s"$partCol=__HIVE_DEFAULT_PARTITION__"
        }
        val pd = s"$dir/$leaf"
        // the partition column lives in the path, not the files — the
        // anti-join below only touches real file columns
        replaceAtomic(spark, pd,
          spark.read.parquet(pd).join(victims, Seq(idColName), "left_anti"))
      }
    }
  }

  /** Enforce the one-maintainer-at-a-time contract that compaction and
    * purge document: an atomic-create lock file BESIDE `dir` (sibling
    * suffix like the `__swap_*` dirs — never inside, where a
    * [[replaceAtomic]] swap would move it). A second maintainer fails
    * fast with remediation instead of silently racing the rename dance.
    * The lock guards MAINTAINERS against each other; readers are not
    * blocked (maintainer-vs-reader safety comes from the per-partition
    * atomic swaps plus the caller's own not-while-serving discipline).
    * A maintainer that crashes leaves the lock behind — deliberate:
    * an operator inspects (the file carries the acquire time) and
    * clears it with [[breakMaintenanceLock]]; auto-expiry would let a
    * slow-but-alive compactor be stomped. */
  def withMaintenanceLock[T](spark: SparkSession, dir: String)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(dir + "__maintenance_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out =
      try fs.create(lock, false)
      catch { case _: java.io.IOException =>
        throw new IllegalStateException(
          s"maintenance lock held at $lock — another compact/purge is " +
            "running (or crashed; inspect the lock's timestamp and clear " +
            "it with Tables.breakMaintenanceLock)")
      }
    // the timestamp write is INSIDE the delete-protected region: if it
    // throws (disk full, transient FS error) the lock must not survive —
    // the body never ran, and an orphaned lock blocks every future
    // maintainer until an operator hand-clears it
    try {
      try out.write(System.currentTimeMillis().toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      body
    } finally fs.delete(lock, false)
  }

  /** Clear a maintenance lock left by a CRASHED maintainer — an
    * operator decision, never automatic (see [[withMaintenanceLock]]).
    * Returns whether a lock was actually cleared. */
  def breakMaintenanceLock(spark: SparkSession, dir: String): Boolean = {
    val lock = new org.apache.hadoop.fs.Path(dir + "__maintenance_lock")
    lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lock, false)
  }

  /** The read half of the tombstone-delete protocol: drop the rows of
    * `df` whose `idColName` is tombstoned in `tombDir` (a one-column
    * parquet table of deleted ids). No tombstone table → `df`
    * unchanged, zero plan overhead — the common case pays one
    * existence probe. Tombstones broadcast: deletes are rare relative
    * to the corpus by construction (bulk removal is a rebuild, not a
    * delete stream). */
  def antiTombstones(spark: SparkSession, tombDir: String,
      df: DataFrame, idColName: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(tombDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) df
    else df.join(
      broadcast(spark.read.parquet(tombDir)
        .select(col("id").as(idColName)).distinct()),
      Seq(idColName), "left_anti")
  }

  /** Append deleted ids to `tombDir` — the write half of the tombstone
    * protocol. One small file per delete batch; [[purgeRows]]-based
    * purge clears the directory once the rows are physically gone.
    * Rejects non-numeric id columns loudly: the silent long cast would
    * turn string ids into nulls (or an ANSI cast crash), after which
    * the anti-join drops nothing and the "deleted" rows keep serving. */
  def appendTombstones(spark: SparkSession, tombDir: String,
      ids: DataFrame): Unit = {
    val f = ids.schema.fields.head
    require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"appendTombstones: id column '${f.name}' is " +
        s"${f.dataType.simpleString}; the tombstone protocol keys on " +
        "numeric ids — surrogate-key string ids first")
    ids.select(col(ids.columns.head).cast("long").as("id")).distinct()
      .coalesce(1).write.mode("append").parquet(tombDir)
  }

  /** Marker file carrying a summary table's last refresh epoch-millis —
    * underscore-prefixed so parquet readers skip it; written inside
    * [[replaceAtomic]]'s pre-swap tmp dir so it commits atomically WITH
    * the data it stamps. */
  val RefreshMarker = "_refreshed_at"

  /** Read a marker file committed atomically with its table by
    * [[replaceAtomic]]'s staged write — the ONE copy of the read half
    * of the marker protocol ([[summaryTable]]'s TTL stamp,
    * [[graft.streaming.StreamRollup]]'s applied-batch id, the BM25
    * index's folded-tombstones signature). */
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
