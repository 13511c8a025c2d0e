package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling-evidence probe for the size-gated execution paths: at the
  * generated ~sf1 leg (graft.GenScale) the small-state levers must be
  * SHOWN crossing over to their distributed over-cap forms on real
  * data — not just unit-tested at toy sizes.
  *
  * Prints (and appends to `target/scale_gates.txt`):
  *
  *  1. the e13 BFS gate: the canonical edge count vs the 2M
  *     local-finish/iteration-conf cap at both SFs — under the cap at
  *     sf0.1 (driver finish + iterconf), over it at ~sf1 (distributed
  *     frontier loop under the session's AQE posture);
  *  2. the CC gate: d05_dup_clusters at ~sf1 run BOTH ways — default
  *     (driver union-find finish) vs `spark.graft.cc.localFinishEdges=0`
  *     (distributed star rounds) — with the two outputs
  *     compared row-for-row: the gate is a pure execution-strategy
  *     switch on the big corpus too, and the over-cap path demonstrably
  *     runs at the new size. */
object ScaleGates {
  def main(args: Array[String]): Unit = {
    val smallDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val bigDir = args.lift(1).getOrElse("target/sfgen1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = new StringBuilder

    def log(s: String): Unit = { println(s); out ++= s + "\n" }

    // ---- gate 1: the e13 BFS edge set vs the 2M cap ----
    def e13Edges(dir: String): Long = {
      val o = graft.core.Tables.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = graft.core.Tables.table(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val bip = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      bip.unionByName(
          bip.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().count()
    }
    val cap = 2000000L
    val eSmall = e13Edges(smallDir)
    val eBig = e13Edges(bigDir)
    log(f"[gate:bfs] e13 canonical edges: $smallDir = $eSmall%,d " +
      f"(${if (eSmall <= cap) "UNDER" else "OVER"} the $cap%,d cap -> " +
      f"${if (eSmall <= cap) "driver finish + iterconf" else "distributed"}), " +
      f"$bigDir = $eBig%,d " +
      f"(${if (eBig <= cap) "UNDER" else "OVER"} -> " +
      f"${if (eBig <= cap) "driver finish" else "distributed frontier loop, AQE posture"})")
    require(eSmall <= cap && eBig > cap,
      "the BFS gate did not cross between the two legs — scaling " +
        "evidence for the over-cap path is vacuous")

    // ---- gate 2: d05 CC at the big leg, local finish vs distributed ----
    def runD05(): (Array[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries("d05_dup_clusters")(spark, bigDir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      graft.operators.Caches.releaseAllPersistent(spark)
      spark.catalog.clearCache()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    runD05() // untimed warm pass: both timed paths start page-cache-warm
    val (localRows, tLocal) = runD05()
    spark.conf.set("spark.graft.cc.localFinishEdges", "0")
    val (distRows, tDist) =
      try runD05()
      finally spark.conf.unset("spark.graft.cc.localFinishEdges")
    require(localRows.sameElements(distRows),
      s"CC local-finish vs distributed outputs diverged at $bigDir: " +
        s"${localRows.length} vs ${distRows.length} rows")
    log(f"[gate:cc] d05_dup_clusters at $bigDir: driver union-find " +
      f"finish $tLocal%.2f s == distributed star rounds " +
      f"(localFinishEdges=0) $tDist%.2f s, ${localRows.length}%,d rows " +
      "BYTE-IDENTICAL — the over-cap CC path runs the same answer at " +
      "the new size")

    // ---- gate 3: LSH plane auto-sizing vs the fixed-plane config ----
    // a FIXED plane count is quadratic-until-cap in the corpus (leg 3
    // measured the pinned-6-plane v23 at exponent 2.7); the auto-sized
    // path (Similarity.autoPlanes) grows planes with log(corpus) so the
    // expected bucket population — and with it per-vector candidate
    // work — stays constant. Run the self-kNN both ways' TIMES at the
    // two generated sizes and report the growth.
    def knnAuto(dir: String): (Long, Int, Double, Double) = {
      val e = graft.core.Tables.table(spark, dir, "embeddings")
      val n = e.count()
      val planes = graft.operators.Similarity.autoPlanes(n,
        targetBucket = 128)
      val t0 = System.nanoTime()
      val rows = graft.operators.Similarity.lshTopKAuto(e, e, "vec_id",
        "embedding", k = 2, targetBucket = 128, corpusRows = n).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.operators.Caches.releaseAllPersistent(spark)
      spark.catalog.clearCache()
      (n, planes, dt, rows.toDouble)
    }
    val hugeDir = args.lift(2).getOrElse("target/sfgen3")
    if (new java.io.File(hugeDir).isDirectory) {
      val (nS, pS, tS, _) = knnAuto(bigDir)
      val (nB, pB, tB, _) = knnAuto(hugeDir)
      val growth = tB / tS
      val sizeRatio = nB.toDouble / nS
      log(f"[gate:lsh-planes] auto-sized self-kNN: $bigDir n=$nS%,d -> " +
        f"$pS planes, $tS%.2f s; $hugeDir n=$nB%,d -> $pB planes, " +
        f"$tB%.2f s — time grew $growth%.1fx for a $sizeRatio%.1fx " +
        f"corpus (quadratic would be ${sizeRatio * sizeRatio}%.0fx); " +
        "since round 12 the declared LSH queries run this auto-sized " +
        "config too (PipelineQueries.annAutoPlanes), with the oracle " +
        "re-deriving p from count(*)")
      // Two-tier enforcement with noise headroom: expected growth for a
      // 3x corpus is ~4x (3x rows x log-ish plane fanout) and the host's
      // documented window noise is ±30%. WARN from sizeRatio^2/2 (~4.5x
      // — the quadratic half-plane, worth a re-run), but FAIL at full
      // sizeRatio^2 (~9x): no window on this host has ever moved a
      // measurement 2x, so a reading at quadratic is a plane-sizing
      // regression, not noise — and a gate that only ever logs would
      // let the round-11 quadratic ship silently again.
      if (growth >= sizeRatio * sizeRatio / 2)
        log(f"[gate:lsh-planes] WARNING: growth $growth%.1fx is within " +
          f"2x of quadratic (${sizeRatio * sizeRatio}%.0fx) — re-run to " +
          "rule out host noise; sustained readings here mean plane " +
          "sizing broke")
      require(growth < sizeRatio * sizeRatio,
        f"[gate:lsh-planes] growth $growth%.1fx reached quadratic " +
          f"(${sizeRatio * sizeRatio}%.0fx) for a $sizeRatio%.1fx corpus " +
          "— plane auto-sizing is broken (window noise is ±30%, never 2x)")
    }

    // ---- gate 4: recall@10 of the auto-sized LSH vs brute truth ----
    // autoPlanes grows p with the corpus, and the fold-superset recall
    // argument only holds at EQUAL plane counts — so recall under
    // plane GROWTH is a measurement, not a theorem. A deterministic
    // 200-query sample (md5-smallest ids: engine-portable, stable
    // across runs) against the FULL corpus keeps the brute truth
    // affordable at any leg (|Q|·n dots, not n²).
    // Two regimes, measured separately, because they answer different
    // questions:
    //  - NEAR-DUP (the LSH tier's engine contract — v03/d02-style
    //    dedup at high cosine): queries are PLANTED perturbations of
    //    corpus vectors (first element halved, cosine ≈ 0.99 to the
    //    source) under fresh ids; recall@1 = did the search return the
    //    source. The generated corpora contain no natural sim ≥ 0.8
    //    pairs in the sampled truth lists (measured: max truth sim
    //    0.60 at ~sf1), so planting is the only way to measure this
    //    regime at these legs.
    //  - ISOTROPIC top-k (general kNN over weakly-structured vectors,
    //    truth sims 0.37-0.60 here): with the candidate budget pinned
    //    at ~target·(p+1) of n, recall MUST decay like the candidate
    //    fraction as n grows — that is the linear-time trade itself,
    //    quantified below together with the targetBucket knob (4x the
    //    budget at equal n). General kNN at scale is the trained-
    //    partitioner tier's job (IVF/PQ, v13/v19 recall gates).
    def recallAuto(dir: String, nQueries: Int, k: Int,
        target: Int): (Long, Int, Double) = {
      val e = graft.core.Tables.table(spark, dir, "embeddings")
      val n = e.count()
      val q = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(nQueries)
      val r = graft.operators.Similarity.recallAtK(
          graft.operators.Similarity.bruteForceTopK(
            e, q, "vec_id", "embedding", k),
          graft.operators.Similarity.lshTopKAuto(
            e, q, "vec_id", "embedding", k, targetBucket = target,
            corpusRows = n))
        .agg(avg(col("recall"))).head().getDouble(0)
      graft.operators.Caches.releaseAllPersistent(spark)
      spark.catalog.clearCache()
      (n, graft.operators.Similarity.autoPlanes(n, targetBucket = target), r)
    }
    def plantedRecall(dir: String, nQueries: Int): (Long, Double) = {
      val e = graft.core.Tables.table(spark, dir, "embeddings")
      val n = e.count()
      // perturbed copies under shifted ids: element 0 halved keeps
      // cosine ≈ 0.99 for these 64-dim vectors — a realistic near-dup
      val q = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(nQueries)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          col("vec_id").as("__src"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x * 0.5f).otherwise(x)).as("embedding"))
      val top1 = graft.operators.Similarity.lshTopKAuto(
          e, q.select("vec_id", "embedding"), "vec_id", "embedding", k = 1,
          targetBucket = 128, corpusRows = n)
      val hit = q.select(col("vec_id").as("query_id"), col("__src"))
        .join(top1.filter(col("rank") === 1), Seq("query_id"), "left")
        .select((col("neighbor_id") === col("__src")).cast("int").as("h"))
        .agg(avg(col("h"))).head().getDouble(0)
      graft.operators.Caches.releaseAllPersistent(spark)
      spark.catalog.clearCache()
      (n, hit)
    }
    if (new java.io.File(hugeDir).isDirectory) {
      val (nd1, pr1) = plantedRecall(bigDir, 200)
      val (nd2, pr2) = plantedRecall(hugeDir, 200)
      log(f"[gate:lsh-recall] NEAR-DUP regime (planted cosine≈0.99 " +
        f"queries, recall@1 of the source): $bigDir n=$nd1%,d " +
        f"recall=$pr1%.3f; $hugeDir n=$nd2%,d recall=$pr2%.3f — the " +
        "regime the LSH tier serves (near-dup dedup), at the " +
        "auto-derived configs")
      require(pr1 >= 0.9 && pr2 >= 0.9,
        f"[gate:lsh-recall] near-dup recall@1 fell below 0.9 " +
          f"($pr1%.3f / $pr2%.3f) — the auto-sized LSH no longer finds " +
          "planted near-duplicates; plane sizing or probing regressed")
      val (n1, p1, r1) = recallAuto(bigDir, 200, 10, 128)
      val (n2, p2, r2) = recallAuto(hugeDir, 200, 10, 128)
      val (_, p1w, r1w) = recallAuto(bigDir, 200, 10, 512)
      log(f"[gate:lsh-recall] ISOTROPIC regime (truth sims 0.37-0.60 " +
        f"here; general kNN): recall@10 $bigDir n=$n1%,d p=$p1 " +
        f"recall=$r1%.3f; $hugeDir n=$n2%,d p=$p2 recall=$r2%.3f; " +
        f"targetBucket 128 -> 512 at $bigDir: p=$p1w recall=$r1w%.3f " +
        "— decays with the pinned candidate fraction by design; the " +
        "linear-cost knob is targetBucket, and general kNN at scale " +
        "belongs to the trained IVF/PQ tier (v13/v19 gates)")
    }

    try {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/scale_gates.txt"), out.toString)
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
