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
}
