package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, SearchIndex, Similarity}

/** One index lifecycle for every family: build → append → delete →
  * purge → compact, with maintenance called through [[IndexStore]] on
  * the directory alone. After each step a family must serve exactly
  * like a fresh index that never held the deleted ids, and after the
  * purge no deleted id may remain in any of the growable tables its
  * meta lists — the erasure half of subject forgetting. */
class IndexLifecycleSpec extends SparkSuite {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select("vec_id", "embedding")
  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text")
  private def vecQueries = emb.filter(col("vec_id") < 5)
  // near-dup copies of docs in both the kept and the deleted slices
  private def planted = docs.filter($"doc_id" < 8)
    .withColumn("doc_id", $"doc_id" + 100000L)
    .withColumn("text", concat($"text", lit(" tail")))

  /** A family: how to build, append and serve it, and the id column of
    * its corpus. `oneShotTwin`: the index has no data-dependent
    * yardstick, so the never-held twin is a one-shot build over the
    * kept rows; otherwise the twin replays the same core build and
    * appends the kept slice (the centroid / codebook yardsticks are
    * frozen at the core build). */
  private final case class Family(tag: String, corpus: () => DataFrame,
      idCol: String, oneShotTwin: Boolean,
      build: (DataFrame, String) => Unit,
      append: (SparkSession, String, DataFrame) => Unit,
      serve: (SparkSession, String) => DataFrame)

  private val families = Seq(
    Family("lsh", () => emb, "vec_id", oneShotTwin = true,
      (c, d) => Similarity.buildLshIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToLshIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.lshServeTopK(s, d, vecQueries, "vec_id",
        "embedding", k = 3)),
    Family("ivf", () => emb, "vec_id", oneShotTwin = false,
      (c, d) => Similarity.buildIvfIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToIvfIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.ivfServeTopK(s, d, vecQueries, "vec_id",
        "embedding", k = 3)),
    Family("pq", () => emb, "vec_id", oneShotTwin = false,
      (c, d) => Similarity.buildPqIndex(c, "vec_id", "embedding", d),
      (s, d, n) => Similarity.appendToPqIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.pqServeTopK(s, d, vecQueries, "vec_id",
        "embedding", k = 3)),
    Family("ivfpq", () => emb, "vec_id", oneShotTwin = false,
      (c, d) => Similarity.buildIvfPqIndex(c, "vec_id", "embedding", d),
      (s, d, n) =>
        Similarity.appendToIvfPqIndex(s, d, n, "vec_id", "embedding"),
      (s, d) => Similarity.ivfPqServeTopK(s, d, vecQueries, "vec_id",
        "embedding", k = 3)),
    Family("minhash", () => docs, "doc_id", oneShotTwin = true,
      (c, d) => Dedup.buildMinhashIndex(c, "doc_id", "text", d, parts = 8),
      (s, d, n) => Dedup.appendToMinhashIndex(s, d, n, "doc_id", "text"),
      (s, d) => Dedup.probeMinhashIndex(s, d, planted, "doc_id", "text",
        threshold = 0.4, maxBucket = 3)),
    Family("bm25", () => docs, "doc_id", oneShotTwin = true,
      (c, d) => SearchIndex.buildBm25Index(c, "doc_id", "text", d, parts = 8),
      (s, d, n) => SearchIndex.appendToBm25Index(s, d, n, "doc_id", "text"),
      (s, d) => SearchIndex.bm25Serve(s, d, Seq("spark", "vector"), k = 10)))

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.toString).toSeq

  /** Ids of `victims` still physically present in any id-keyed growable
    * table the index's meta lists. */
  private def onDisk(dir: String, victims: DataFrame): Long =
    IndexStore.meta(spark, dir).tables.flatMap(t => t.idCol.map { idc =>
      spark.read.parquet(s"$dir/${t.name}")
        .join(victims.select(col(victims.columns.head).cast("long").as(idc)),
          Seq(idc), "left_semi").count()
    }).sum

  families.foreach { f =>
    test(s"${f.tag}: build → append → delete → purge → compact ≡ an " +
        "index that never held the deleted ids") {
      val dir = Files.createTempDirectory(s"life_${f.tag}").toString
      val twin = Files.createTempDirectory(s"life_${f.tag}_twin").toString
      val id = col(f.idCol)
      val core = f.corpus().filter(id % 3 === 0)
      val kept = f.corpus().filter(id % 3 === 1)
      val gone = f.corpus().filter(id % 3 === 2).select(f.idCol)
      f.build(core, dir)
      f.append(spark, dir, kept)
      f.append(spark, dir, f.corpus().filter(id % 3 === 2))
      if (f.oneShotTwin) f.build(core.unionByName(kept), twin)
      else { f.build(core, twin); f.append(spark, twin, kept) }
      val want = rows(f.serve(spark, twin))
      assert(want.nonEmpty, s"${f.tag}: vacuous check")
      assert(rows(f.serve(spark, dir)) !== want,
        s"${f.tag}: the deleted slice never reached the serve")

      IndexStore.delete(spark, dir, gone)
      assert(rows(f.serve(spark, dir)) === want, s"${f.tag}: delete")
      IndexStore.purge(spark, dir)
      assert(rows(f.serve(spark, dir)) === want, s"${f.tag}: purge")
      assert(!new java.io.File(s"$dir/tombstones").exists,
        s"${f.tag}: purge left the tombstones behind")
      assert(onDisk(dir, gone) === 0L,
        s"${f.tag}: purge left deleted rows on disk")
      val (before, after) = IndexStore.compact(spark, dir)
      assert(after <= before, s"${f.tag}: compaction grew the file count")
      assert(rows(f.serve(spark, dir)) === want, s"${f.tag}: compact")
    }
  }

  test("cross-family: forget + one purge per dir leaves no row to " +
      "resurrect") {
    val victims = (0L until 6L).toDF("id")
    val dirs = families.map { f =>
      val d = Files.createTempDirectory(s"forget_${f.tag}").toString
      f.build(f.corpus(), d)
      f -> d
    }
    graft.pii.Masking.forgetDocuments(spark, victims, "id", None,
      minhashIndexDirs = dirs.filter(_._1.tag == "minhash").map(_._2),
      annIndexDirs = dirs.filter(p => Seq("lsh", "ivf", "pq", "ivfpq")
        .contains(p._1.tag)).map(_._2),
      bm25IndexDirs = dirs.filter(_._1.tag == "bm25").map(_._2))
    val hidden = dirs.map { case (f, d) => f.tag -> rows(f.serve(spark, d)) }
    dirs.foreach { case (_, d) => IndexStore.purge(spark, d) }
    dirs.zip(hidden).foreach { case ((f, d), (_, want)) =>
      assert(onDisk(d, victims) === 0L,
        s"${f.tag}: purge cleared the tombstones but left the rows")
      assert(rows(f.serve(spark, d)) === want,
        s"${f.tag}: forgotten rows resurrected after the purge")
    }
  }

  test("maintenance on a dir without meta fails before touching it") {
    val dir = Files.createTempDirectory("life_nometa").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/postings")
    graft.core.Tables.appendTombstones(spark, s"$dir/tombstones",
      Seq(1L).toDF("id"))
    val e = intercept[IllegalArgumentException](IndexStore.purge(spark, dir))
    assert(e.getMessage.contains("no meta"))
    assert(spark.read.parquet(s"$dir/tombstones").count() === 1L,
      "purge touched the tombstones of a dir it does not own")
    assert(spark.read.parquet(s"$dir/postings").count() === 2L)
    intercept[IllegalArgumentException](IndexStore.compact(spark, dir))
    intercept[IllegalArgumentException](IndexStore.foldDeltas(spark, dir))
    intercept[IllegalArgumentException](
      IndexStore.delete(spark, dir, Seq(2L).toDF("id")))
    assert(spark.read.parquet(s"$dir/tombstones").count() === 1L)
  }
}
