package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Persist-scope helper for operators that self-join or multi-probe an
  * intermediate frame.
  *
  * `scoped(i1, i2)(out)` caches the intermediates, eagerly computes `out`
  * while they are hot (localCheckpoint: one computation, lineage
  * truncated), and ALWAYS releases them before returning. The caller gets
  * a small, already-materialized result whose re-reads never recompute
  * the expensive lineage — and, critically, no cache blocks outlive the
  * call. Persist-without-unpersist is the classic slow-degradation
  * failure in long-lived sessions (benchmarks, notebooks, streaming
  * drivers): every leaked block adds GC pressure until unrelated queries
  * crawl. */
private[graft] object Caches {

  /** Test-only probe: when a thread installs a buffer here, [[scoped]]
    * records the physical plan of every output it materializes. The
    * eager materialization inside scoped() is exactly why these internal
    * plans are invisible to the declared-query snapshot gate
    * (PlanRegressionSpec sees only the checkpoint scan) — the probe lets
    * ShuffleWidthSpec assert on the REAL operator internals (shuffle
    * row-width classes) without reconstructing them out-of-band. */
  private[graft] val planProbe = new ThreadLocal[mutable.Buffer[SparkPlan]]

  /** Eager materialization with lineage truncation — the single funnel
    * every operator checkpoint goes through, so that (a) the interior
    * plan gate sees EVERY materialized plan ([[planProbe]] records it
    * when installed — PlanRegressionSpec and graft.Explain budget
    * these), and (b) the checkpoint mode is centrally switchable:
    *
    *  - `spark.graft.checkpoint.mode=local` (default): localCheckpoint —
    *    blocks live in executor storage with lineage truncated. Fastest,
    *    and the right trade on local[32]/the bench; but an executor loss
    *    mid-job is unrecoverable (no lineage to recompute).
    *  - `spark.graft.checkpoint.mode=reliable`: SparkContext-dir
    *    checkpoint (HDFS/object-store-backed) — iteration state survives
    *    executor loss, the posture a 1000-executor 100 TB run wants for
    *    pageRank/kmeansFit/dupClusters and every scoped() exit. Requires
    *    `sparkContext.setCheckpointDir` (enforced here with a clear
    *    message rather than Spark's late NPE-ish failure). */
  def eager(df: DataFrame): DataFrame = {
    Option(planProbe.get).foreach(_ += df.queryExecution.executedPlan)
    val reliable = df.sparkSession.conf
      .get("spark.graft.checkpoint.mode", "local") == "reliable"
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "spark.graft.checkpoint.mode=reliable needs " +
          "sparkContext.setCheckpointDir(<fault-tolerant path>)")
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** Postfix sugar for [[eager]]: `df.eagerCheckpoint()` — keeps
    * operator pipelines readable at the many call sites. */
  implicit class EagerOps(private val df: DataFrame) extends AnyVal {
    def eagerCheckpoint(): DataFrame = Caches.eager(df)
  }

  /** Drop the storage blocks behind a checkpointed frame NOW, instead of
    * waiting for GC + the async ContextCleaner to notice the reference
    * died. Iterative operators supersede their state every round; without
    * an explicit release each round's checkpoint blocks linger until a
    * full GC cycle completes AND the cleaner thread drains — on a loaded
    * machine that debt accumulates into storage-memory pressure that
    * evicts LIVE blocks and turns every later materialization into disk
    * churn (the long-lived-session failure mode scoped()'s doc warns
    * about, just at the RDD layer). At 100 TB a 50-iteration fit leaking
    * 49 state snapshots is an executor-storage OOM, not a slowdown.
    *
    * ONLY call this on state that is provably dead: a localCheckpoint's
    * data lives in those very blocks (lineage is truncated), so a released
    * frame that is re-executed fails with "checkpoint block not found"
    * rather than silently recomputing.
    *
    * The "provably dead" contract is ENFORCED, not assumed: the frame
    * must be exactly one checkpoint — a single LogicalRDD in its plan
    * (optionally under narrow projections, as iterative operators
    * `.select` off carried columns before releasing). A frame whose plan
    * holds several LogicalRDDs (e.g. a lazy join of superseded state
    * with a live persisted lookup) is REFUSED loudly: blindly releasing
    * every leaf would also destroy the live frame's blocks — and a
    * localCheckpoint has no lineage to recompute from, so that loss is
    * irrecoverable and typically surfaces much later as a
    * "checkpoint block not found" in an innocent query. */
  def release(df: DataFrame): Unit = {
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    require(rdds.size == 1,
      s"Caches.release: expected exactly ONE checkpointed LogicalRDD in " +
        s"the released frame's plan, found ${rdds.size} — release only " +
        "frames that ARE a superseded checkpoint (releasing a composite " +
        "plan would destroy live frames' lineage-free blocks)")
    val l = rdds.head
    l.rdd.unpersist(blocking = false)
    // reliable-mode state lives as FILES in the checkpoint dir, not
    // blocks — unpersist alone would leave one dead snapshot per
    // iteration on HDFS/object store until app exit (Spark only
    // cleans checkpoint files with referenceTracking.cleanCheckpoints,
    // off by default). The frame is dead by this method's contract,
    // so its checkpoint files go with it.
    l.rdd.getCheckpointFile.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      } catch { case _: java.io.IOException => () /* best-effort */ }
    }
  }

  /** Between-queries sweep for long-lived harness sessions (Bench,
    * Verify): unpersist EVERY still-registered RDD — persisted frames
    * whose scope leaked, checkpoint blocks whose frames died but whose
    * GC hasn't run. `catalog.clearCache()` only drops SQL-cache entries;
    * RDD-level blocks (localCheckpoint's home) are invisible to it. */
  def releaseAllPersistent(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** Collect a PROVABLY-TINY frame to the driver and re-lift it as a
    * LocalRelation — the physical-placement twin of [[eager]] for
    * yardstick tables (IVF centroid tables, k-means state, PQ
    * codebooks: ≤ a few thousand rows BY CONSTRUCTION at any corpus
    * scale, because k is an algorithm parameter, not a data size).
    *
    * Values are untouched — rows are carried verbatim, no arithmetic
    * happens on the driver — so every consumer computes bit-identical
    * results. What changes is the job choreography: a checkpoint-backed
    * yardstick reports the unknown-size sentinel and pays one
    * executeCollect JOB per consuming broadcast build, while a
    * LocalRelation broadcasts straight from driver memory (LocalTableScan
    * executeCollect is driver-local) and carries exact size stats.
    * Measured on the v-tier: 2-4 scheduler round-trips per query removed.
    *
    * The guard is a hard require, not a silent fallback: a caller
    * localizing something data-sized is a bug (that is what [[eager]]
    * is for), and it should fail loudly at the call site. `maxRows` is
    * required: every caller passes its own construction bound (k, the
    * centroid count, m·nCodes), so a blanket default can never hide a
    * frame that outgrew it. */
  def localize(df: DataFrame, maxRows: Int): DataFrame = {
    // one row past the bound is enough to fail: the guard never pulls a
    // data-sized frame onto the driver to count it
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"Caches.localize: more than $maxRows rows exceed the yardstick " +
        "bound — this frame is data-sized; checkpoint it instead")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Broadcast hint gated on a KNOWN row count — for the per-iteration
    * state of iterative operators (rank/label/frontier tables), which is
    * checkpoint-backed and therefore reports the unknown-size SENTINEL
    * to the optimizer: Catalyst treats "unknown" as huge and plans a
    * full shuffle join of the (big, persisted) edge list against a
    * node-sized table EVERY iteration. The caller always knows the state
    * row count (it materialized the state); below `spark.graft.broadcast
    * .maxRows` the hint turns each iteration into one broadcast-hash
    * pass over the co-located edges — no edge bytes ever re-shuffle.
    * Above the cap (a 10⁹-node graph at real scale) the hint is
    * withheld and the documented two-narrow-shuffles-per-iteration
    * posture stands: state-sized rows shuffle, edges stay put. */
  def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame = {
    val cap = scala.util.Try(df.sparkSession.conf
      .get("spark.graft.broadcast.maxRows", "2000000").toLong)
      .getOrElse(2000000L)
    if (rows >= 0 && rows <= cap)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** [[broadcastIfSmall]] with a worth-it gate: hint only when the
    * STREAMED side is at least 8× the build side. A broadcast has fixed
    * per-round costs (driver collect, relation build, ship) that a small
    * shuffle simply doesn't — when both sides are node-state-sized the
    * sort-merge plan is already cheap and the hint is pure overhead
    * (measured: +0.5 s/query on the label-propagation family at bench
    * scale). When the streamed side genuinely dwarfs the build side —
    * a 10⁹-row label table against a 10⁶-row pair list — the hint is
    * what keeps the big side from re-shuffling every round. */
  def broadcastIfWorthIt(df: DataFrame, buildRows: Long,
      streamRows: Long): DataFrame =
    if (streamRows >= 8 * math.max(1L, buildRows)) broadcastIfSmall(df, buildRows)
    else df

  def scoped(intermediates: DataFrame*)(out: => DataFrame): DataFrame = {
    intermediates.foreach(_.persist())
    try eager(out)
    finally intermediates.foreach(_.unpersist())
  }

  /** Loop-local SQL conf for an iterative fit whose per-iteration state
    * has a KNOWN row count (rank/label/frontier/edge tables — the
    * caller materialized and counted it), applied ONLY in the
    * broadcast-state regime (`stateRows ≤ spark.graft.broadcast
    * .maxRows`, the same cap that gates [[broadcastIfSmall]]). In that
    * regime every per-round join is a broadcast pass over co-located
    * cached data and every exchange carries at most state-sized rows —
    * there is nothing for AQE to size or skew-split, yet under AQE
    * every exchange of every per-iteration plan materializes as its
    * OWN Spark job plus a driver re-optimization round trip, and an
    * iterative fit multiplies that by its round count (measured: e12's
    * 5-iteration fit ran 23 stage-jobs for its 3 checkpoint actions;
    * the CC star loop ~8 jobs a round). Two overrides, restored on
    * exit:
    *
    *  - **AQE off**: each checkpoint materialization becomes ONE job
    *    whose stages the classic scheduler pipelines back-to-back;
    *  - **shuffle partitions sized from the state count** (`rows ·
    *    bytesPerRow / 64 MB`, so ≤ 2 in-regime): the session default
    *    is sized for data-scale scans and burns 32 near-empty tasks
    *    per stage per round on node-sized exchanges.
    *
    * ABOVE the cap — a 10⁹-node rank table, an over-cap component
    * graph — this is a NO-OP: per-round exchanges are genuinely large,
    * hub skew is real, and AQE's runtime re-planning earns its job
    * overhead; the session posture governs.
    *
    * The loop body must contain every per-iteration ACTION (checkpoints,
    * counts, convergence probes); one-shot setup/teardown plans outside
    * keep the session's AQE posture either way.
    *
    * CONCURRENCY CONTRACT: the override mutates THIS session's
    * SessionState conf for the body's duration — the engine's iterative
    * operators run every per-iteration action on the calling driver
    * thread, and this engine submits one query at a time per session,
    * so nothing else plans under the override. A query submitted
    * concurrently through the SAME SparkSession object WOULD plan
    * de-AQE'd at the loop width; a driver that interleaves unrelated
    * work with an iterative fit must submit it through its own
    * `spark.newSession()` clone (same SparkContext, same cached data,
    * independent SessionState conf) — CachesSpec pins that a clone is
    * untouched by an in-flight override. */
  def withIterationConf[A](spark: org.apache.spark.sql.SparkSession,
      stateRows: Long, bytesPerRow: Long = 32L)(body: => A): A = {
    val cap = scala.util.Try(spark.conf
      .get("spark.graft.broadcast.maxRows", "2000000").toLong)
      .getOrElse(2000000L)
    // over-cap fits keep the session's AQE posture
    if (stateRows > cap) return body
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val prev = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    // width = max(bytes-based, ROWS-based) + 1: state exchanges are
    // byte-light, but the reduce side of a per-iteration aggregate does
    // real per-row compute (e12's exact-decimal rank sums measured
    // ~10 µs/row) — at 160k+ state rows a single reduce task is a
    // 1.5 s/iteration serial floor that the byte sizing alone would
    // never widen. ~25k rows/task keeps tiny states at width 1 (the
    // whole point of the override) while larger in-regime states fan
    // out; results are unaffected (the per-iteration aggregates are
    // associative sums/mins — partitioning cannot change them).
    val parts = math.min(20000L,
      math.max(math.max(0L, stateRows) * bytesPerRow / (64L << 20),
        math.max(0L, stateRows) / 25000L) + 1).toInt
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // NOTE on a rejected variant: a scoped() flavor that pre-materialized
  // each intermediate with its own count() (so compute-dense caches
  // build at their pinned layout instead of inside an AQE-coalesced
  // consumer stage) was measured NET-NEGATIVE on the minhash family at
  // sf0.1 — the extra actions and exchanges cost more than the
  // parallelized materialization saved (t19 +1.0 s, d10 +0.7 s in
  // same-window A/B). If a future operator's cache materialization
  // serializes, prefer restructuring the cache's own partitioning.

  /** Cap-gated typed edge collect — the ONE funnel for every
    * bounded-driver-finish algorithm (CC union-find in
    * [[graft.operators.Dedup]], BFS adjacency walk in
    * [[graft.operators.Graph]]): the distributed machinery exists for
    * edge sets that dwarf a machine, but once the canonical edge
    * count — already in hand from the caller's convergence/broadcast
    * bookkeeping — fits comfortably on the driver, O(rounds) more
    * distributed jobs are pure scheduling overhead against a
    * millisecond driver-side pass.
    *
    * BOUNDED BY CONSTRUCTION: the collect is gated on the EXACT edge
    * count against the caller's conf key (operator-specific so the two
    * paths stay independently tunable; default 2M; 0 disables,
    * restoring the pure distributed path — DedupSpec/GraphSpec pin
    * local ≡ distributed either way). Honest memory math at the
    * default cap: the typed collect materializes specialized
    * (Long, Long) tuples — ~32 B each plus the pointer array, ~100 MB
    * transient at 2M edges. What the caller builds on top adds its own
    * bound: the union-find parent map and the BFS node→index map are
    * each keyed by #nodes, not #edges (several hundred MB only if
    * every edge touches two fresh nodes); the BFS CSR arrays are
    * primitive int/long (~40 MB steady at the cap).
    *
    * Returns None when the gate (or a non-long id column) says
    * distributed; Some(edge array) otherwise. */
  def boundedEdgeCollect(edges: DataFrame, nEdges: Long,
      confKey: String): Option[Array[(Long, Long)]] = {
    val spark = edges.sparkSession
    val cap = scala.util.Try(
      spark.conf.get(confKey, "2000000").toLong).getOrElse(2000000L)
    val longIds = Seq("src", "dst").forall(c =>
      edges.schema(c).dataType == org.apache.spark.sql.types.LongType)
    if (nEdges <= 0 || nEdges > cap || !longIds) None
    else {
      import spark.implicits._
      // typed collect: specialized (Long, Long) tuples, not boxed Rows
      Some(edges.select(
        org.apache.spark.sql.functions.col("src"),
        org.apache.spark.sql.functions.col("dst"))
        .as[(Long, Long)].collect()) // gated above: <= cap
    }
  }

  /** Spread a compute-heavy-but-byte-light input across the cluster.
    *
    * A small parquet file arrives as ONE scan split, so per-row-expensive
    * pipelines (shingling, hashing, signatures) run single-threaded no
    * matter how many cores exist — bytes-based split sizing is the wrong
    * proxy when compute ≫ I/O. An explicit hash repartition on the row
    * key fixes the parallelism AND pre-satisfies the downstream
    * groupBy(key) distribution (no second exchange). The partition count
    * is pinned (repartition(n, key)) so AQE's size-based coalescing
    * doesn't fold the tiny-by-bytes rows back into one partition.
    *
    * At corpus scale the guard inverts: once the optimizer's size
    * estimate says the scan will already produce at least `n` splits
    * (estimate ≥ 2·n·maxPartitionBytes, the 2× margin absorbing
    * compression-ratio noise in the estimate), the repartition would be
    * a full shuffle of RAW DOCUMENT BYTES purely to re-key rows the
    * scan already parallelized — the single most expensive no-op a
    * 100 TB dedup pass could run — so it is skipped and the natural
    * scan splits feed the pipeline directly. */
  def spreadByKey(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    // the conf can hold a non-integer on AQE-managed platforms ("auto");
    // fall back to the cluster's default parallelism rather than throwing
    val n = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val maxPartitionBytes = scala.util.Try(
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
      .getOrElse(128L * 1024 * 1024)
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // stats-less sources (LogicalRDD, checkpointed frames, JDBC) report
    // the defaultSizeInBytes SENTINEL (Long.MaxValue-ish), which would
    // read as "huge" and silently skip the spread for a tiny
    // single-partition input — treat it as unknown and keep the
    // repartition; only a REAL file-size estimate may skip it
    val sentinel = scala.util.Try(
      df.sparkSession.sessionState.conf.defaultSizeInBytes)
      .getOrElse(Long.MaxValue)
    if (estBytes < BigInt(sentinel) &&
      estBytes >= BigInt(maxPartitionBytes) * n * 2) df
    else df.repartition(n, key)
  }
}
