package graft
import org.apache.spark.sql.SparkSession

object Bench {
  // the fixed small SF the warm pass falls back to
  private val SmallSfDir = "/root/testdata/sf0.001"
  // the warm pass uses a GenScale twin only for measured dirs up to this
  private val WarmTwinMaxMb = 256L

  /** JSON string-body escape (no surrounding quotes): backslash, quote
    * and every control char below 0x20. Shared by Bench and Verify — a
    * tab or CR left raw in a key, an error message, an SF path or
    * builder-authored SQL makes the consumer's JSON parse fail and lose
    * the whole artifact. */
  private[graft] def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Warm-twin directory name for a measured SF dir: the basename for
    * human readability PLUS the first 8 hex chars of md5 over the
    * CANONICAL path — two different corpora that happen to share a
    * basename (two dirs both named `sf0.1`) must never reuse each
    * other's twin (a stale `_TWIN_COMPLETE` marker would warm on
    * wrong-shape data: a warm-quality bug, never a correctness one,
    * but silent). */
  private[graft] def twinDirName(canonicalSfPath: String): String = {
    val base = canonicalSfPath.reverse.takeWhile(_ != '/').reverse match {
      case "" => "x"
      case b => b
    }
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canonicalSfPath.getBytes("UTF-8"))
    val hex = md.take(4).map(b => f"${b & 0xff}%02x").mkString
    s"sfwarm_${base}_$hex"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE coalesce CACHED plan output too: the iterative operators
      // (pageRank, dupClusters, BFS) map over persisted edge/state
      // frames every iteration — without this, each map pays the full
      // static shuffle-partition count in near-empty tasks (measured:
      // 827 -> 165 tasks for a 5-iteration pageRank at sf0.1); at real
      // scale the coalesce target is size-based, so big caches keep
      // their parallelism
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // AQE coalesce floor: Spark's 1 MB default. A 64k floor was
      // measured to help nothing — the engine's small hot stages are
      // SKEW-bound (one hot bucket/key per stage), so extra tiny tasks
      // only add scheduling churn — and it regressed the iterative tier
      // badly (e12 4.5 s -> 33 s: the extra partitions defeat the
      // cached-plan coalescing the checkpoint loop relies on).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // HOST-SPEED CANARY (untimed, before any warm work): one fixed
    // single-threaded CPU probe — 2e8 iterations of a long mix — emitted
    // as `canary_sec`, so a comparison between two runs can tell a slow
    // host window from a slow engine. Pure JVM arithmetic: no Spark, no
    // I/O.
    val canarySec = {
      val t0 = System.nanoTime()
      var h = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < 200000000L) {
        h = java.lang.Long.rotateLeft(h * 0xc2b2ae3d27d4eb4fL, 31) ^ i
        i += 1
      }
      // keep `h` observable so the loop cannot be dead-code-eliminated
      if (h == 0L) System.err.println("canary fixed point")
      (System.nanoTime() - t0) / 1e9
    }
    // warm the session (codegen, parquet footers, broadcast infra) so the
    // first timed query doesn't absorb JVM/session startup
    try SparkEntry.queries("q01_count_global")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // JIT-warm the shared evaluation primitives (regex tokenize, md5/sha,
    // xxhash64, window exec, shuffle+join machinery) on a 200-row slice —
    // a SEPARATE plan from every measured query (each still pays its own
    // codegen), so this trims cold-JVM noise, not measured work
    try {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("doc_id")
      val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
        .select(col("doc_id"), col("text"),
          md5(col("text")).as("m"), sha2(col("text"), 256).as("s"),
          xxhash64(col("text")).as("x"),
          split(trim(lower(col("text"))), "\\s+").as("t"))
        .withColumn("rn", row_number().over(w))
      d.join(d.select(col("doc_id"), col("x").as("x2")), "doc_id")
        .groupBy("rn").agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // SPARK_GRAFT_REPEAT=N times each query N times back to back and
    // keeps the MINIMUM: the per-run minimum is the comparison statistic
    // (a transient host stall inflates one run, never all of them)
    val repeat = math.max(1, sys.env.get("SPARK_GRAFT_REPEAT")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(1))
    // BENCH ORDER: deterministic round-robin across the tier prefixes (d,
    // e, g, m, p, q, s, t, v) in sorted order, not name order — name
    // order runs each tier as one block with the heavy v-tier last, so a
    // host throttle window late in the run lands entirely on one tier.
    // The `queries` map is emitted in this measurement order.
    val selected = {
      val base = SparkEntry.selectedQueries
      val tiers = base.groupBy(_._1.takeWhile(_.isLetter))
        .toSeq.sortBy(_._1).map(_._2)
      val maxLen = tiers.map(_.size).max
      (0 until maxLen).flatMap(i => tiers.flatMap(_.lift(i)))
    }
    // WARM PASS (untimed): run every selected query once before the
    // timed region, so the Janino compile + JIT of each query's codegen
    // classes is not measured. The warm corpus is a GenScale TWIN of the
    // measured dir: same row counts (so the same size-dependent plan
    // choices and the same generated classes) but startReplica=1, so
    // every row is char-bijected / sign-permuted / id-shifted and the
    // measured data's values and pages are never touched. Built once
    // under target/ and reused (marker-gated), only for measured dirs up
    // to WarmTwinMaxMb raw; larger dirs, or a failed twin build, warm on
    // the small fixed SF instead. SPARK_GRAFT_WARM_SF_DIR overrides the
    // warm dir; SPARK_GRAFT_NO_WARM disables the pass and the touch.
    var twinSec = -1.0
    def dirBytes(p: String): Long =
      try scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(p))) { w =>
        w.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
      } catch { case _: Throwable => Long.MaxValue }
    // canonical-path compare, not string compare: a trailing slash or a
    // symlinked SF dir would otherwise defeat the guard below and warm
    // the MEASURED dataset itself (silently flattered numbers)
    def canon(p: String) =
      try new java.io.File(p).getCanonicalPath catch { case _: Throwable => p }
    val warmDir = sys.env.get("SPARK_GRAFT_WARM_SF_DIR").getOrElse {
      if (sys.env.contains("SPARK_GRAFT_NO_WARM") ||
          dirBytes(sfDir) > (WarmTwinMaxMb << 20)) SmallSfDir
      else {
        val twin = "target/" + twinDirName(canon(sfDir))
        val marker = java.nio.file.Paths.get(twin, "_TWIN_COMPLETE")
        if (!java.nio.file.Files.exists(marker)) try {
          val t0 = System.nanoTime()
          // a partial previous build needs no cleanup: generate()
          // overwrites every table, and the marker lands only after all
          GenScale.generate(spark, sfDir, twin, replicas = 1,
            startReplica = 1L)
          java.nio.file.Files.createFile(marker)
          twinSec = (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => () }
        if (java.nio.file.Files.exists(marker)) twin else SmallSfDir
      }
    }
    // warm-pass / touch durations, emitted under `warm` in the artifact
    var warmSec = -1.0
    var warmN = 0
    var touchFiles = -1L
    var touchMb = -1.0
    var touchSec = -1.0
    if (!sys.env.contains("SPARK_GRAFT_NO_WARM") &&
        new java.io.File(warmDir).isDirectory && canon(warmDir) != canon(sfDir)) {
      val w0 = System.nanoTime()
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        // sweep per warm query: 200+ queries' checkpoint blocks piling
        // up through the warm pass would start the TIMED region with a
        // storage-eviction debt the first measured queries pay for
        graft.operators.Caches.releaseAllPersistent(spark)
        warmN += 1
      }
      spark.catalog.clearCache()
      System.gc()
      warmSec = (System.nanoTime() - w0) / 1e9
    }
    // UNTIMED raw-byte touch of the measured SF dir: stream every file
    // (RECURSIVE walk — generated legs ship each table as a
    // `<name>.parquet/` DIRECTORY of part files) through a read-and-
    // discard loop so the OS page cache is warm before the first timed
    // query. No plan is built and no Spark cache is touched: it removes
    // only the first-access disk stall, which the timed region (compute
    // throughput) does not mean to measure.
    if (!sys.env.contains("SPARK_GRAFT_NO_WARM")) try {
      val t0 = System.nanoTime()
      var nFiles = 0L
      var nBytes = 0L
      val buf = new Array[Byte](1 << 20)
      scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))) { ls =>
        ls.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            nFiles += 1
            val in = java.nio.file.Files.newInputStream(p)
            try {
              var n = in.read(buf)
              while (n >= 0) { nBytes += math.max(n, 0); n = in.read(buf) }
            } finally in.close()
          }
        }
      }
      touchFiles = nFiles
      touchMb = nBytes / 1048576.0
      touchSec = (System.nanoTime() - t0) / 1e9
    } catch { case _: Throwable => () }
    // no cross-query bleed: releaseAllPersistent drops RDD-level blocks
    // (localCheckpoint's home) that clearCache cannot see, and the
    // explicit collection retires each query's garbage so a long
    // concurrent-GC window does not tax whoever runs next
    def interQueryCleanup(): Unit = {
      graft.operators.Caches.releaseAllPersistent(spark)
      spark.catalog.clearCache()
      // storage-debt gate: after the sweep, ZERO RDDs may remain
      // registered as persistent — a survivor means the release path
      // broke and dead checkpoint blocks would stack into storage
      // pressure across 200 queries. Fail the run rather than publish
      // numbers taxed by it.
      val leaked = spark.sparkContext.getPersistentRDDs
      require(leaked.isEmpty,
        s"persistent-RDD leak after inter-query sweep: ids ${leaked.keys.toSeq.sorted.take(8).mkString(",")} (${leaked.size} total)")
      System.gc()
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    selected.foreach { case (name, fn) =>
      var best = Double.PositiveInfinity
      var ok = false
      (1 to repeat).foreach { _ =>
        val t0 = System.nanoTime()
        // noop sink materializes every output row/column (count() would
        // let Catalyst prune the projections and under-report)
        ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            errors(name) = (e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage)).take(300)
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // a query is ok/err by its LAST run — drop stale error messages
        // from earlier repeats so n_ok + n_err always equals queries run
        if (ok) { errors.remove(name); best = math.min(best, sec) }
      }
      interQueryCleanup()
      if (ok) results(name) = best
    }
    // ms precision; Locale.ROOT, since a comma-decimal default locale
    // would emit invalid JSON. esc() on every interpolated string, keys
    // and sfDir included.
    def num(v: Double): String =
      if (v < 0) "null"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + esc(k) + "\":" + num(v) }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    // a crashed query must be VISIBLE, not a fast time: failures are
    // excluded from `queries`/total and reported in `errors`/`n_err`
    val total = results.values.sum
    val warmJson =
      s"""{"warm_sec":${num(warmSec)},"warm_dir":"${esc(warmDir)}","twin_build_sec":${num(twinSec)},"warm_queries":$warmN,"warm_complete":${warmN == selected.size},"touch_files":${if (touchFiles < 0) "null" else touchFiles.toString},"touch_mb":${num(touchMb)},"touch_sec":${num(touchSec)}}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_ok":${results.size},"n_err":${errors.size},"errors":$errJson,"warm":$warmJson,"canary_sec":${num(canarySec)},"sf":"${esc(sfDir)}"}"""
    println(line)
    // the full line above exceeds tail-window captures at ~90 queries, so
    // also emit a compact summary line that always survives a tail slice
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_ok":${results.size},"n_err":${errors.size},"sf":"${esc(sfDir)}"}""")
    // sbt appends its own trailing lines to stdout; a file copy keeps the
    // FULL JSON machine-readable regardless of how stdout is sliced
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")), line)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
