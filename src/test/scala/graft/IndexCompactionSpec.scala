package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Similarity}

/** Index compaction parity across the ANN index families: every append
  * piles files into the growable table (LSH `bucketed`, IVF `assigned`,
  * PQ / IVF-PQ `codes`); `IndexStore.compact` must collapse the
  * pile WITHOUT changing a single served row — compaction is a layout
  * concern, never a semantic one. (The MinHash family's twin lives in
  * DedupIndexSpec.) */
class IndexCompactionSpec extends SparkSuite {

  private def emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select("vec_id", "embedding")

  private def fileCount(dir: String): Int = {
    def count(f: java.io.File): Int =
      if (!f.isDirectory) 0
      else f.listFiles().map(x =>
        if (x.isDirectory) count(x)
        else if (x.getName.endsWith(".parquet")) 1 else 0).sum
    count(new java.io.File(dir))
  }

  /** Build on one slice, append the other two — then serve, compact,
    * re-serve, and require byte-equal rows plus a real file collapse. */
  private def checkFamily(tag: String,
      build: (DataFrame, String) => Unit,
      append: (SparkSession, String, DataFrame) => Unit,
      serve: (SparkSession, String) => DataFrame): Unit = {
    val idx = Files.createTempDirectory(s"compact_$tag").toString
    build(emb.filter(col("vec_id") % 3 === 0), idx)
    append(spark, idx, emb.filter(col("vec_id") % 3 === 1))
    append(spark, idx, emb.filter(col("vec_id") % 3 === 2))
    def served() = serve(spark, idx).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val before = served()
    val filesBefore = fileCount(idx)
    val (nb, na) = IndexStore.compact(spark, idx)
    assert(na < nb, s"$tag: no collapse ($nb -> $na)")
    assert(fileCount(idx) === filesBefore - nb + na)
    assert(served() === before, s"$tag: compaction changed served results")
    assert(before.nonEmpty, s"$tag: vacuous check")
  }

  private def queries = emb.filter(col("vec_id") < 5)

  test("LSH index: compacted ≡ uncompacted serve, files collapse") {
    checkFamily("lsh",
      (c, d) => Similarity.buildLshIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToLshIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.lshServeTopK(s, d, queries, "vec_id", "embedding",
        k = 3))
  }

  test("IVF index: compacted ≡ uncompacted serve, files collapse") {
    checkFamily("ivf",
      (c, d) => Similarity.buildIvfIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToIvfIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.ivfServeTopK(s, d, queries, "vec_id", "embedding",
        k = 3))
  }

  test("PQ index: compacted ≡ uncompacted serve, files collapse") {
    checkFamily("pq",
      (c, d) => Similarity.buildPqIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToPqIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.pqServeTopK(s, d, queries, "vec_id", "embedding",
        k = 3))
  }

  test("maintenance lock: second maintainer fails fast, lock released " +
      "after body and after a crash-throwing body; breakLock clears stale") {
    import graft.core.Tables
    val idx = Files.createTempDirectory("mlock").toString
    val lockFile = new java.io.File(idx + "__maintenance_lock")
    // concurrent maintainer conflicts, with remediation in the message
    val got = Tables.withMaintenanceLock(spark, idx) {
      assert(lockFile.exists)
      val e = intercept[IllegalStateException] {
        Tables.withMaintenanceLock(spark, idx)(fail("body must not run"))
      }
      assert(e.getMessage.contains("breakMaintenanceLock"))
      42
    }
    assert(got === 42)
    assert(!lockFile.exists, "lock not released after body")
    // a throwing body still releases
    intercept[RuntimeException] {
      Tables.withMaintenanceLock(spark, idx)(
        throw new RuntimeException("maintainer died"))
    }
    assert(!lockFile.exists, "lock not released after throwing body")
    // a stale lock (crashed JVM) is cleared by the operator override
    assert(lockFile.createNewFile())
    assert(Tables.breakMaintenanceLock(spark, idx))
    assert(!lockFile.exists)
    assert(!Tables.breakMaintenanceLock(spark, idx)) // nothing to clear
  }

  test("IVF-PQ index: compacted ≡ uncompacted serve, files collapse") {
    checkFamily("ivfpq",
      (c, d) => Similarity.buildIvfPqIndex(c, "vec_id", "embedding", d),
      (s, d, n) =>
        Similarity.appendToIvfPqIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.ivfPqServeTopK(s, d, queries, "vec_id",
        "embedding", k = 3))
  }

  test("delta compaction heals a crash between the two swap renames") {
    val idx = Files.createTempDirectory("crash_swap").toString
    Similarity.buildLshIndex(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", idx)
    Similarity.bucketWithFrozenMeta(spark, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$idx/deltas/batch=0")
    def served() = Similarity.lshServeTopK(spark, idx, queries,
      "vec_id", "embedding", k = 3).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val want = served()
    // simulate the crash window of the one swap protocol
    // (Tables.replaceAtomic): settled tree moved aside to its
    // `.<name>__swap_old` sibling, staged tmp present, replacement
    // never renamed in
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/bucketed"),
      new org.apache.hadoop.fs.Path(s"$idx/.bucketed__swap_old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/.bucketed__swap_tmp"))
    IndexStore.foldDeltas(spark, idx)
    assert(served() === want, "post-recovery serve moved rows")
    assert(!new java.io.File(s"$idx/deltas").exists)
    assert(!new java.io.File(s"$idx/.bucketed__swap_old").exists)
  }

  test("delta compaction re-run after a crash past the swap is idempotent") {
    val idx = Files.createTempDirectory("crash_postswap").toString
    Similarity.buildLshIndex(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", idx)
    Similarity.bucketWithFrozenMeta(spark, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$idx/deltas/batch=0")
    def served() = Similarity.lshServeTopK(spark, idx, queries,
      "vec_id", "embedding", k = 3).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val want = served()
    IndexStore.foldDeltas(spark, idx)
    // crash after the fold but before the delta delete: the folded base
    // is live and the consumed deltas reappear — a re-run must not
    // double-post them into the base
    Similarity.bucketWithFrozenMeta(spark, idx,
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$idx/deltas/batch=0")
    IndexStore.foldDeltas(spark, idx)
    assert(served() === want, "re-folded deltas changed served rows")
    val base = spark.read.parquet(s"$idx/bucketed")
    assert(base.groupBy("neighbor_id").count()
      .filter(col("count") > 1).isEmpty,
      "re-folded deltas duplicated postings rows in the base")
  }

  test("token-stats compaction heals the same crash window") {
    import graft.operators.TokenIndex
    val dir = Files.createTempDirectory("crash_tok").toString
    val docs = graft.core.Tables.table(spark, sf0001, "documents")
      .limit(50)
    TokenIndex.buildTokenStats(docs, "doc_id", "text", "source", dir)
    def served() = TokenIndex.tokenStats(spark, dir).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val want = served()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/token_stats"),
      new org.apache.hadoop.fs.Path(s"$dir/.token_stats__swap_old")))
    TokenIndex.compact(spark, dir)
    assert(served() === want, "post-recovery token stats moved rows")
    assert(!new java.io.File(s"$dir/.token_stats__swap_old").exists)
  }
}
