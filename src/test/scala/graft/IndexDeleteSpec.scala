package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, Similarity}

/** Tombstone deletes across the materialized index families — the
  * right-to-be-forgotten contract: after `IndexStore.delete`, a tombstoned
  * index must serve EXACTLY like an index whose deleted rows were never
  * appended (exact for every family because the centroid / codebook /
  * hyperplane yardsticks are frozen at build time over the CORE slice,
  * which both scenarios share); a physical purge must not change a
  * single served row, must clear the tombstone table, and must leave
  * unaffected partitions' files untouched. */
class IndexDeleteSpec extends SparkSuite {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select("vec_id", "embedding")
  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text")

  /** Build on the core slice, append slices A and B, tombstone B —
    * then require serve ≡ the never-appended-B twin, purge, and
    * require byte-identical serve + cleared tombstones. */
  private def checkFamily(tag: String, idCol: String, base: DataFrame,
      build: (DataFrame, String) => Unit,
      append: (SparkSession, String, DataFrame) => Unit,
      serve: (SparkSession, String) => DataFrame): Unit = {
    val full = Files.createTempDirectory(s"del_${tag}_full").toString
    val twin = Files.createTempDirectory(s"del_${tag}_twin").toString
    val core = base.filter(col(idCol) % 3 === 0)
    val sliceA = base.filter(col(idCol) % 3 === 1)
    val sliceB = base.filter(col(idCol) % 3 === 2)
    build(core, full); append(spark, full, sliceA); append(spark, full, sliceB)
    build(core, twin); append(spark, twin, sliceA)
    def served(d: String) = serve(spark, d).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val before = served(full)
    IndexStore.delete(spark, full, sliceB.select(idCol))
    val tombstoned = served(full)
    assert(tombstoned === served(twin),
      s"$tag: tombstoned serve differs from the never-appended twin")
    assert(tombstoned !== before, s"$tag: delete was a vacuous no-op")
    IndexStore.purge(spark, full)
    assert(served(full) === tombstoned, s"$tag: purge changed served rows")
    assert(!new java.io.File(s"$full/tombstones").exists,
      s"$tag: purge left the tombstone table behind")
    // purged physical state serves identically with no tombstone join
    assert(tombstoned.nonEmpty, s"$tag: vacuous check")
  }

  private def queries = emb.filter(col("vec_id") < 5)

  test("LSH index: delete ≡ never-appended; purge is serve-invariant") {
    checkFamily("lsh", "vec_id", emb,
      (c, d) => Similarity.buildLshIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToLshIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.lshServeTopK(s, d, queries, "vec_id", "embedding",
        k = 3))
  }

  test("IVF index: delete ≡ never-appended; purge is serve-invariant") {
    checkFamily("ivf", "vec_id", emb,
      (c, d) => Similarity.buildIvfIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToIvfIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.ivfServeTopK(s, d, queries, "vec_id", "embedding",
        k = 3))
  }

  test("PQ index: delete ≡ never-appended; purge is serve-invariant") {
    checkFamily("pq", "vec_id", emb,
      (c, d) => Similarity.buildPqIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToPqIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.pqServeTopK(s, d, queries, "vec_id", "embedding",
        k = 3))
  }

  test("IVF-PQ index: delete ≡ never-appended; purge is serve-invariant") {
    checkFamily("ivfpq", "vec_id", emb,
      (c, d) => Similarity.buildIvfPqIndex(c, "vec_id", "embedding", d),
      (s, d, n) =>
        Similarity.appendToIvfPqIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.ivfPqServeTopK(s, d, queries, "vec_id",
        "embedding", k = 3))
  }

  test("MinHash index: delete ≡ never-appended under hot-bucket " +
      "capping; purge is probe-invariant") {
    val full = Files.createTempDirectory("del_mh_full").toString
    val twin = Files.createTempDirectory("del_mh_twin").toString
    val core = docs.filter($"doc_id" % 3 === 0)
    val sliceA = docs.filter($"doc_id" % 3 === 1)
    val sliceB = docs.filter($"doc_id" % 3 === 2)
    // near-dup copies of core docs in BOTH kept and deleted slices, so
    // the delete genuinely changes the probe result
    val probe = docs.filter($"doc_id" < 8)
      .withColumn("doc_id", $"doc_id" + 100000L)
      .withColumn("text", concat($"text", lit(" tail")))
    Dedup.buildMinhashIndex(core, "doc_id", "text", full, parts = 8)
    Dedup.appendToMinhashIndex(spark, full, sliceA, "doc_id", "text")
    Dedup.appendToMinhashIndex(spark, full, sliceB, "doc_id", "text")
    Dedup.buildMinhashIndex(core, "doc_id", "text", twin, parts = 8)
    Dedup.appendToMinhashIndex(spark, twin, sliceA, "doc_id", "text")
    // tight maxBucket so the bucket-population window MATTERS: counting
    // tombstoned rows in __bsz would flip capping verdicts vs the twin
    def probed(d: String) = Dedup.probeMinhashIndex(spark, d, probe,
        "doc_id", "text", threshold = 0.4, maxBucket = 3).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val before = probed(full)
    IndexStore.delete(spark, full, sliceB.select("doc_id"))
    val tombstoned = probed(full)
    assert(tombstoned === probed(twin),
      "tombstoned probe differs from the never-appended twin")
    assert(tombstoned !== before, "delete was a vacuous no-op")
    IndexStore.purge(spark, full)
    assert(probed(full) === tombstoned, "purge changed probe rows")
    assert(!new java.io.File(s"$full/tombstones").exists,
      "purge left the tombstone table behind")
    assert(spark.read.parquet(s"$full/postings")
      .join(sliceB.select($"doc_id".as("id")), Seq("id"), "left_semi")
      .isEmpty, "purge left deleted docs' postings rows on disk")
    assert(tombstoned.nonEmpty, "vacuous check")
  }

  test("forgetDocuments erases end to end: corpus rows gone, derived " +
      "indexes stop serving the subject") {
    import spark.implicits._
    val corpusDir = Files.createTempDirectory("forget_corpus").toString
    val mhIdx = Files.createTempDirectory("forget_mh").toString
    val annIdx = Files.createTempDirectory("forget_ann").toString
    docs.write.mode("overwrite").parquet(corpusDir)
    Dedup.buildMinhashIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", mhIdx, parts = 8)
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", annIdx)
    // near-dup copies of the forgotten docs still probe the index —
    // before erasure they must hit, after they must not
    val victims = docs.filter($"doc_id" < 3)
    val probe = victims.withColumn("doc_id", $"doc_id" + 100000L)
      .withColumn("text", concat($"text", lit(" tail")))
    assert(Dedup.probeMinhashIndex(spark, mhIdx, probe, "doc_id", "text",
      threshold = 0.4).count() > 0, "planted dups must hit before erasure")
    val report = graft.pii.Masking.forgetDocuments(spark,
        victims.select("doc_id"), "doc_id", Some(corpusDir),
        minhashIndexDirs = Seq(mhIdx)).head
    assert(report.getLong(0) === 3 && report.getLong(1) === 3)
    assert(spark.read.parquet(corpusDir).filter($"doc_id" < 3).isEmpty,
      "corpus still holds forgotten rows")
    assert(Dedup.probeMinhashIndex(spark, mhIdx, probe, "doc_id", "text",
        threshold = 0.4)
      .filter(col("index_id") < 3).isEmpty,
      "index still serves forgotten docs")
    // the ANN leg: forgotten vec_ids drop from every serve
    val vq = emb.filter(col("vec_id") >= 5).limit(5)
    graft.pii.Masking.forgetDocuments(spark,
      emb.filter(col("vec_id") < 3).select("vec_id"), "vec_id", None,
      annIndexDirs = Seq(annIdx))
    assert(Similarity.ivfServeTopK(spark, annIdx, vq, "vec_id", "embedding",
        k = 5)
      .filter(col("neighbor_id") < 3).isEmpty,
      "ANN index still serves forgotten vectors")
  }

  test("purge rewrites only the partitions that hold victim rows") {
    val idx = Files.createTempDirectory("del_prune").toString
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx)
    val assignedDir = new java.io.File(s"$idx/assigned")
    // victims = one centroid list's members → exactly one cid= dir moves
    val victimCid = spark.read.parquet(s"$idx/assigned")
      .select("cid").distinct().orderBy("cid")
      .head.getAs[Number](0).longValue // partition col re-inferred as Int
    val victims = spark.read.parquet(s"$idx/assigned")
      .filter(col("cid") === victimCid).select("neighbor_id")
    val mtimes = assignedDir.listFiles.filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles.map(_.lastModified).max).toMap
    IndexStore.delete(spark, idx, victims)
    IndexStore.purge(spark, idx)
    val after = assignedDir.listFiles.filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles.map(_.lastModified).max).toMap
    val untouched = mtimes.keys.filter(_ != s"cid=$victimCid")
    assert(untouched.nonEmpty)
    untouched.foreach(p =>
      assert(after(p) === mtimes(p), s"purge rewrote unaffected $p"))
    assert(after(s"cid=$victimCid") > mtimes(s"cid=$victimCid"),
      "affected partition was not rewritten")
  }

  test("purge removes tombstoned vectors still sitting in delta epochs") {
    val idx = Files.createTempDirectory("del_lsh_delta").toString
    val core = emb.filter(col("vec_id") % 2 === 0)
    val late = emb.filter(col("vec_id") % 2 === 1)
    Similarity.buildLshIndex(core, "vec_id", "embedding", idx)
    // a streaming epoch that was never compacted (StreamIndexAppend's
    // layout, written directly — same code path via bucketWithFrozenMeta)
    Similarity.bucketWithFrozenMeta(spark, idx, late, "vec_id", "embedding")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$idx/deltas/batch=0")
    val victim = late.select("vec_id").limit(1)
    val victimId = victim.head.getLong(0)
    IndexStore.delete(spark, idx, victim)
    IndexStore.purge(spark, idx)
    // after the purge the tombstones are gone — the delta row must be
    // physically gone too, or the "forgotten" vector serves again
    val served = Similarity.lshServeTopK(spark, idx,
        emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 50)
      .select("neighbor_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!served.contains(victimId),
      "purged vector resurrected from an un-compacted delta epoch")
  }

  test("purge finds victims in Hive-escaped and null partition dirs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("purge_esc").toString + "/t"
    // partition values the writer escapes (colon) or defaults (null)
    Seq((1L, "a:b"), (2L, "a:b"), (3L, "plain"), (4L, null))
      .toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    graft.core.Tables.purgeRows(spark, dir, "id",
      Seq(1L, 4L).toDF("id"))
    val left = spark.read.parquet(dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left === Seq(2L, 3L),
      "victims in escaped/null partitions survived the purge")
  }

  test("purge survives inference-mangled and space-bearing partition values") {
    import spark.implicits._
    val dir = Files.createTempDirectory("purge_mangle").toString + "/t"
    // "01" reads back as int 1 under partition type inference (leaf
    // would be rebuilt as k=1); "a b" has a raw space in the dir name
    Seq((1L, "01"), (2L, "01"), (3L, "a b"), (4L, "zz"))
      .toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    graft.core.Tables.purgeRows(spark, dir, "id",
      Seq(1L, 3L).toDF("id"))
    val left = spark.read.parquet(dir)
      .select("id", "k").as[(Long, String)]
      .collect().sorted.toSeq
    assert(left === Seq((2L, "01"), (4L, "zz")),
      "victims under mangled partition leaves survived the purge")
  }

  test("maintenance heals a TABLE-level crashed swap, not just partitions") {
    import spark.implicits._
    val parent = Files.createTempDirectory("tbl_heal").toString
    val dir = parent + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(dir)
    // crash window: whole table moved aside, replacement never renamed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"$parent/.t__swap_old")))
    val (before, after) = graft.core.Tables.compactTable(spark, dir)
    assert(before > 0, "compactTable skipped the vanished table " +
      "instead of healing the crashed swap")
    assert(spark.read.parquet(dir).count() === 2,
      "table not restored from its swap backup")
  }

  test("maintenance heals a partition dir whose swap crashed mid-rename") {
    import spark.implicits._
    val dir = Files.createTempDirectory("purge_heal").toString + "/t"
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    // simulate the crash window: k=a moved aside to its dot-prefixed
    // backup, replacement never renamed in — the residue must be
    // invisible to readers (no phantom partition) and the next
    // maintenance pass must restore it
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/k=a"),
      new org.apache.hadoop.fs.Path(s"$dir/.k=a__swap_old")))
    assert(spark.read.parquet(dir).select("k").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("b"),
      "swap residue leaked into partition discovery")
    graft.core.Tables.purgeRows(spark, dir, "id", Seq(99L).toDF("id"))
    val back = spark.read.parquet(dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back === Seq(1L, 2L, 3L), "crashed swap was not healed")
  }

  test("purge refuses a multi-level partition layout instead of flattening it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("purge_nested").toString + "/t"
    Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"))
      .toDF("id", "k1", "k2")
      .write.partitionBy("k1", "k2").parquet(dir)
    // a blind per-first-level rewrite would collapse the k2= subdirs into
    // flat files, after which partition discovery on the root hits
    // "Conflicting directory structures" and the whole table is unreadable
    val e = intercept[IllegalArgumentException] {
      graft.core.Tables.purgeRows(spark, dir, "id", Seq(1L).toDF("id"))
    }
    assert(e.getMessage.contains("nested partition"))
    // untouched: layout and rows intact
    assert(spark.read.parquet(dir).count() === 3)
  }
}
