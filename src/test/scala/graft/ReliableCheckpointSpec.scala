package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PageRank}

/** `spark.graft.checkpoint.mode=reliable` — the fault-tolerant posture
  * for the iterative/eager operators at cluster scale.
  *
  * Default (`local`) pins checkpoint blocks to executor storage with
  * lineage truncated: fastest, but an executor loss mid-query kills the
  * job unrecoverably. On a 1000-executor 100 TB run the iterative
  * operators (pageRank's per-iteration state, kmeansFit, dupClusters
  * rounds, every Caches.scoped exit) want `reliable` — a
  * SparkContext-dir checkpoint on fault-tolerant storage that a lost
  * executor can re-read. Every operator checkpoint funnels through
  * `Caches.eager`, so ONE conf flips the whole engine; these tests pin
  * that the mode switch changes durability only, never results. */
class ReliableCheckpointSpec extends SparkSuite {
  import spark.implicits._

  private def withReliable[A](body: => A): A = {
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    spark.conf.set("spark.graft.checkpoint.mode", "reliable")
    try body
    finally spark.conf.set("spark.graft.checkpoint.mode", "local")
  }

  // declared FIRST: the later tests set the shared context's checkpoint
  // dir, after which the missing-dir guard is unobservable in this JVM
  test("reliable mode without a checkpoint dir fails fast with a clear message") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "another suite already set a checkpoint dir on the shared context")
    spark.conf.set("spark.graft.checkpoint.mode", "reliable")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.operators.Caches.eager(Seq((1L, "a")).toDF("id", "v"))
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    } finally spark.conf.set("spark.graft.checkpoint.mode", "local")
  }

  test("pageRank in reliable mode is byte-identical to local mode") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (2L, 4L), (4L, 2L)
    ).toDF("src", "dst")
    val local = PageRank.pageRank(edges, "src", "dst", iters = 6,
      damping = 0.85).collect().map(_.toSeq).toSeq
    val reliable = withReliable {
      PageRank.pageRank(edges, "src", "dst", iters = 6, damping = 0.85)
        .collect().map(_.toSeq).toSeq
    }
    assert(reliable === local)
  }

  test("release() deletes superseded reliable checkpoint FILES, not just blocks") {
    import scala.jdk.CollectionConverters._
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck_files")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    spark.conf.set("spark.graft.checkpoint.mode", "reliable")
    try {
      // a 12-hop chain: several star rounds, each checkpointing a fresh
      // canonical edge set. Reliable-mode state lives as FILES — without the
      // release-time delete the dir would accumulate one rdd-* snapshot
      // per round (Spark's own cleaner is off by default), the
      // unbounded-disk twin of the block-accumulation failure. Forced
      // distributed: the local union-find finish would otherwise skip
      // the very rounds whose release discipline this test pins.
      spark.conf.set("spark.graft.cc.localFinishEdges", "0")
      val pairs = (1L until 13L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val docs = (1L to 13L).toDF("doc_id")
      val out = graft.operators.Dedup.dupClusters(docs, "doc_id", pairs,
        maxRounds = 20)
      assert(out.count() === 13)
      val rddDirs = scala.util.Using.resource(
        java.nio.file.Files.walk(ckDir)) { w =>
        w.iterator().asScala.count(_.getFileName.toString.startsWith("rdd-"))
      }
      assert(rddDirs <= 3,
        s"$rddDirs reliable checkpoint snapshots left after the component " +
          "rounds (expected only the final edge set)")
    } finally {
      spark.conf.set("spark.graft.checkpoint.mode", "local")
      spark.conf.unset("spark.graft.cc.localFinishEdges")
    }
  }

  test("dupClusters (iterative connected components) matches across modes") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 13L), (20L, 21L)
    ).toDF("id_a", "id_b")
    val docs = (1L to 25L).toDF("doc_id")
    val local = Dedup.dupClusters(docs, "doc_id", pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val reliable = withReliable {
      Dedup.dupClusters(docs, "doc_id", pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(reliable === local)
  }

  // ---- mode matrix over the rest of the iterative/eager tier: the mode
  // switch must change durability only, never results, and the
  // release-on-supersession discipline must bound the checkpoint dir's
  // FILE count (reliable state lives as files, so a leak is unbounded
  // fault-tolerant-storage growth, not just executor memory) ----

  private def rddSnapshots(dir: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(dir)) { w =>
      w.iterator().asScala.count(_.getFileName.toString.startsWith("rdd-"))
    }
  }

  private def withReliableDir[A](body: => A): (A, Long) = {
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    spark.conf.set("spark.graft.checkpoint.mode", "reliable")
    try { val a = body; (a, rddSnapshots(ckDir)) }
    finally spark.conf.set("spark.graft.checkpoint.mode", "local")
  }

  test("kmeansFit (Lloyd loop) matches across modes; per-iteration state released") {
    val vecs = (0L until 60L)
      .map(i => (i, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    val local = graft.operators.Similarity
      .kmeansFit(vecs, "vec_id", "embedding", k = 4, iters = 5, dim = 8)
      .collect().map(_.toSeq).toSeq
    val (reliable, snapshots) = withReliableDir {
      graft.operators.Similarity
        .kmeansFit(vecs, "vec_id", "embedding", k = 4, iters = 5, dim = 8)
        .collect().map(_.toSeq).toSeq
    }
    assert(reliable === local)
    // 5 iterations each checkpoint fresh centroids and release the old:
    // only the FINAL centroid snapshot may remain
    assert(snapshots <= 2,
      s"$snapshots centroid snapshots left after a 5-iteration fit")
  }

  test("v23's chain (LSH self-kNN -> mutual edges -> log-star components) matches across modes") {
    val q = SparkEntry.queries("v23_knn_graph")
    val local = q(spark, sf0001).collect().map(_.toSeq).toSeq
    val (reliable, snapshots) = withReliableDir {
      q(spark, sf0001).collect().map(_.toSeq).toSeq
    }
    assert(reliable === local)
    // the component rounds release superseded state; the bound covers the
    // chain's live scoped() exits, not one snapshot per round
    assert(snapshots <= 12,
      s"$snapshots checkpoint snapshots left after the v23 chain")
  }

  test("t19 (declared heavy query) end-to-end in reliable mode matches local") {
    val q = SparkEntry.queries("t19_corpus_manifest")
    val local = q(spark, sf0001).collect().map(_.toSeq).toSeq
    val (reliable, snapshots) = withReliableDir {
      q(spark, sf0001).collect().map(_.toSeq).toSeq
    }
    assert(reliable === local)
    assert(snapshots <= 12,
      s"$snapshots checkpoint snapshots left after t19")
  }

  test("streaming index probe in reliable mode: kill, restart, exactly-once, " +
      "checkpoint files bounded") {
    import java.nio.file.Files
    import graft.operators.Dedup
    import graft.streaming.StreamIndexProbe
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val idx = Files.createTempDirectory("rel_sipr_idx").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx, parts = 16)
    val arrivals = corpus.filter(col("doc_id") < 6)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" tail")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def stage(landing: String, name: String, docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").json(s"$landing/$name")
    val landing = Files.createTempDirectory("rel_sipr_landing").toString
    val out = Files.createTempDirectory("rel_sipr_out").toString
    val ckpt = Files.createTempDirectory("rel_sipr_ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def startStream() = StreamIndexProbe.start(
      spark.readStream.schema(schema).json(s"$landing/*/"),
      idx, out, ckpt, "doc_id", "text", threshold = 0.5)

    val (rows, snapshots) = withReliableDir {
      // ---- run 1: one committed epoch, then "crash" between the epoch
      // write and its commit marker (the StreamIndexProbeSpec kill shape,
      // here with every interior checkpoint living as reliable FILES)
      stage(landing, "b0", arrivals.take(3))
      val q1 = startStream()
      try q1.processAllAvailable() finally q1.stop()
      val commit0 = java.nio.file.Paths.get(ckpt, "commits", "0")
      assert(Files.exists(commit0), "expected a committed epoch 0")
      Files.delete(commit0)
      Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
      Seq((999999L, 999999L, 0.999)).toDF("probe_id", "index_id", "jaccard")
        .write.mode("append").parquet(s"$out/batch=0")
      // ---- run 2 (restart): epoch 0 replays and overwrites itself,
      // epoch 1 processes the new arrivals
      stage(landing, "b1", arrivals.drop(3))
      val q2 = startStream()
      try q2.processAllAvailable() finally q2.stop()
      spark.read.parquet(out)
        .select("probe_id", "index_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // exactly-once across the kill: no dup rows, no partial survivors,
    // and the ledger equals a one-shot batch probe of everything
    assert(rows.size === rows.distinct.size, "duplicate ledger rows")
    assert(!rows.exists(_._1 == 999999L),
      "the crashed attempt's partial output survived the replay")
    val oneShot = Dedup.probeMinhashIndex(spark, idx,
        arrivals.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.toSet === oneShot)
    // BOUNDED: the per-batch sweepAfter released every interior
    // checkpoint's files — across 3 processed epochs and a restart,
    // nothing may accumulate in the reliable store (without the sweep
    // this is ~3 rdd-* snapshots PER BATCH, forever)
    assert(snapshots === 0,
      s"$snapshots reliable checkpoint snapshots left by the stream")
  }

  test("streaming token stats in reliable mode: kill mid-batch, restart, " +
      "exactly-once, checkpoint files bounded across 3 epochs") {
    import java.nio.file.Files
    import graft.streaming.StreamTokenStats
    val docs = Seq(
      (1L, "alpha beta alpha", "web"), (2L, "beta gamma", "web"),
      (3L, "delta delta", "books"), (4L, "alpha epsilon", "books"),
      (5L, "epsilon beta zeta", "web"), (6L, "zeta zeta gamma", "books"))
    val landing = Files.createTempDirectory("rel_sts_landing").toString
    val statsDir = Files.createTempDirectory("rel_sts_stats").toString
    val ckpt = Files.createTempDirectory("rel_sts_ckpt").toString
    def stage(name: String, part: Seq[(Long, String, String)]): Unit =
      part.toDF("doc_id", "text", "source").coalesce(1)
        .write.mode("overwrite").json(s"$landing/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType)))
    def startStream() = StreamTokenStats.start(
      spark.readStream.schema(schema).json(s"$landing/*/"),
      statsDir, ckpt, "text", "source")

    val (served, snapshots) = withReliableDir {
      // ---- epoch 0, then "crash" between the delta write and the
      // commit marker; a partial/poison file lands in the epoch dir
      // exactly as an interrupted task attempt would leave it
      stage("b0", docs.take(2))
      val q1 = startStream()
      try q1.processAllAvailable() finally q1.stop()
      val commit0 = java.nio.file.Paths.get(ckpt, "commits", "0")
      assert(Files.exists(commit0), "expected a committed epoch 0")
      Files.delete(commit0)
      Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
      Seq(("poison", "poison_token", 999L)).toDF("source", "token", "cnt")
        .write.mode("append").parquet(s"$statsDir/deltas/batch=0")
      // ---- restart: epoch 0 replays and OVERWRITES its own delta dir
      // (EpochGuard allows replay of the newest epoch), then epochs 1-2
      stage("b1", docs.slice(2, 4))
      val q2 = startStream()
      try q2.processAllAvailable() finally q2.stop()
      stage("b2", docs.drop(4))
      val q3 = startStream()
      try q3.processAllAvailable() finally q3.stop()
      StreamTokenStats.servedStats(spark, statsDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    }
    // exactly-once across the kill: the served table equals a one-shot
    // batch tokenize of everything ingested, and the crashed attempt's
    // partial rows are gone (the replayed epoch overwrote them)
    assert(!served.exists(_._2 == "poison_token"),
      "the crashed attempt's partial delta rows survived the replay")
    val oneShot = graft.operators.TokenIndex.counts(
      docs.toDF("doc_id", "text", "source"), "doc_id", "text", "source")
    assert(served.toSet === oneShot.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
    // one delta directory per non-empty epoch — replay rewrote batch=0
    // in place rather than forking a second copy of the epoch
    val deltaDirs = new java.io.File(s"$statsDir/deltas").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(deltaDirs === Seq("batch=0", "batch=1", "batch=2"))
    // BOUNDED: no reliable checkpoint snapshots may accumulate across
    // the three epochs and the restart
    assert(snapshots === 0,
      s"$snapshots reliable checkpoint snapshots left by the stream")
  }

}
