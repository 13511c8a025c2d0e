package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{IndexStore, Similarity}
import graft.streaming.StreamIndexAppend

case class ArrivingVec(vec_id: Long, embedding: Seq[Float])

/** Continuous LSH-index maintenance: after every micro-batch the served
  * top-k must equal a one-shot build over everything ingested so far
  * (the LSH family has no yardstick drift, so this is EXACT equality),
  * a crash-replayed epoch must rewrite itself rather than double-post,
  * and folding the delta tail back into the settled tree must not move
  * a single served row. */
class StreamIndexAppendSpec extends SparkSuite {
  import spark.implicits._

  private def sfDir = sf0001

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    .toSet

  private def vecRows(from: Int, until: Int) =
    Tables.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") >= from && col("vec_id") < until)
      .collect()
      .map(r => ArrivingVec(r.getLong(0), r.getSeq[Float](1)))

  test("served top-k == one-shot build after every micro-batch; " +
      "compaction folds the delta tail without moving a row") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val idx = Files.createTempDirectory("lsh_stream").toString
    val ckpt = Files.createTempDirectory("lsh_stream_ckpt").toString

    Similarity.buildLshIndex(emb.filter(col("vec_id") < 300),
      "vec_id", "embedding", idx, numPlanes = 8, dim = 64, seed = 42L)

    def oneShot(upTo: Int) = {
      val dir = Files.createTempDirectory("lsh_oneshot").toString
      Similarity.buildLshIndex(emb.filter(col("vec_id") < upTo),
        "vec_id", "embedding", dir, numPlanes = 8, dim = 64, seed = 42L)
      rows(Similarity.lshServeTopK(spark, dir, queries,
        "vec_id", "embedding", k = 3))
    }

    val stream = MemoryStream[ArrivingVec]
    val q = StreamIndexAppend.start(stream.toDF(), idx, ckpt,
      "vec_id", "embedding")
    try {
      stream.addData(vecRows(300, 400).toIndexedSeq)
      q.processAllAvailable()
      assert(rows(Similarity.lshServeTopK(spark, idx, queries,
        "vec_id", "embedding", k = 3)) === oneShot(400),
        "after batch 1 the merged serve diverged from a one-shot build")

      stream.addData(vecRows(400, 500).toIndexedSeq)
      q.processAllAvailable()
      val afterB2 = rows(Similarity.lshServeTopK(spark, idx, queries,
        "vec_id", "embedding", k = 3))
      assert(afterB2 === oneShot(500),
        "after batch 2 the merged serve diverged from a one-shot build")

      // two epoch directories accumulated
      val epochs = new java.io.File(s"$idx/deltas").listFiles()
        .filter(_.isDirectory).filter(_.getName.startsWith("batch="))
      assert(epochs.length === 2)

      IndexStore.foldDeltas(spark, idx)
      assert(!new java.io.File(s"$idx/deltas").exists,
        "compaction left the delta tail behind")
      assert(rows(Similarity.lshServeTopK(spark, idx, queries,
        "vec_id", "embedding", k = 3)) === afterB2,
        "compaction moved served rows")
    } finally q.stop()
  }

  test("a deltas tree holding only an uncommitted epoch (crashed first " +
      "batch) neither breaks serving nor compaction") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val idx = Files.createTempDirectory("lsh_uncommitted").toString
    Similarity.buildLshIndex(emb, "vec_id", "embedding", idx,
      numPlanes = 8, dim = 64, seed = 42L)
    val want = rows(Similarity.lshServeTopK(spark, idx, queries,
      "vec_id", "embedding", k = 3))
    // the write job died before the committer renamed anything: the
    // epoch dir exists but holds only _temporary
    assert(new java.io.File(s"$idx/deltas/batch=0/_temporary").mkdirs())
    assert(rows(Similarity.lshServeTopK(spark, idx, queries,
      "vec_id", "embedding", k = 3)) === want,
      "an uncommitted epoch changed or broke serving")
    IndexStore.foldDeltas(spark, idx)
    assert(rows(Similarity.lshServeTopK(spark, idx, queries,
      "vec_id", "embedding", k = 3)) === want,
      "compacting past an uncommitted epoch changed serving")
    assert(!new java.io.File(s"$idx/deltas").exists)
  }

  test("a replayed epoch overwrites its own delta dir — no double posting") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val idx = Files.createTempDirectory("lsh_replay").toString
    Similarity.buildLshIndex(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", idx, numPlanes = 8, dim = 64, seed = 42L)

    // simulate the foreachBatch body running twice for the same epoch
    // (crash between the delta write and the checkpoint commit)
    val late = emb.filter(col("vec_id") >= 400)
    (1 to 2).foreach { _ =>
      Similarity.bucketWithFrozenMeta(spark, idx, late,
          "vec_id", "embedding")
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$idx/deltas/batch=7")
    }

    val full = Files.createTempDirectory("lsh_full").toString
    Similarity.buildLshIndex(emb, "vec_id", "embedding", full,
      numPlanes = 8, dim = 64, seed = 42L)
    assert(rows(Similarity.lshServeTopK(spark, idx, queries,
      "vec_id", "embedding", k = 3)) ===
      rows(Similarity.lshServeTopK(spark, full, queries,
        "vec_id", "embedding", k = 3)),
      "replayed epoch double-posted or dropped vectors")
  }
}
