package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.operators.{Caches, Dedup, IndexStore}

/** Materialized MinHash dedup index: build / append / probe contracts.
  * The probe must agree exactly with the inline incremental operator,
  * append must be indistinguishable from a rebuild, probing must prune
  * postings partitions, and chunking the probe stream must not change
  * the result (the foreachBatch serving path). */
class DedupIndexSpec extends SparkSuite {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text")

  /** Planted near-dups: copies of docs 0-4 under fresh ids with one
    * appended token — guaranteed high-Jaccard probe hits. */
  private def planted = docs.filter($"doc_id" < 5)
    .withColumn("doc_id", $"doc_id" + 100000L)
    .withColumn("text", concat($"text", lit(" tail")))

  test("probe ≡ incrementalMinhashPairs restricted to new×old") {
    val idx = Files.createTempDirectory("mhidx").toString
    Dedup.buildMinhashIndex(docs, "doc_id", "text", idx, parts = 16)
    val probed = Dedup.probeMinhashIndex(spark, idx, planted,
        "doc_id", "text", threshold = 0.5, maxBucket = Int.MaxValue)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    val inc = Dedup.incrementalMinhashPairs(
        docs.unionByName(planted), "doc_id", "text",
        newPred = col("doc_id") >= 100000L, threshold = 0.5,
        maxBucket = Int.MaxValue)
      // the probe never pairs new with new — compare the new×old slice
      .filter(($"id_a" >= 100000L) =!= ($"id_b" >= 100000L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed === inc)
    assert(probed.size >= 5, s"planted dups not found: $probed")
  }

  test("append ≡ one-shot rebuild for any split") {
    val oneShot = Files.createTempDirectory("mhidx1").toString
    val grown = Files.createTempDirectory("mhidx2").toString
    Dedup.buildMinhashIndex(docs, "doc_id", "text", oneShot, parts = 8)
    Dedup.buildMinhashIndex(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", grown, parts = 8)
    Dedup.appendToMinhashIndex(spark, grown,
      docs.filter($"doc_id" % 2 =!= 0), "doc_id", "text")
    def postings(d: String) = spark.read.parquet(s"$d/postings")
      .select("band", "bucket", "id", "bucket_p").collect()
      // bucket_p is re-inferred from the partition directory names (Int)
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getAs[Number](3).longValue))
      .toSet
    def shingles(d: String) = spark.read.parquet(s"$d/shingles")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector))
      .sortBy(_._1).toVector
    assert(postings(grown) === postings(oneShot))
    assert(shingles(grown) === shingles(oneShot))
  }

  test("a serving-sized probe statically prunes postings partitions") {
    val idx = Files.createTempDirectory("mhidx3").toString
    Dedup.buildMinhashIndex(docs, "doc_id", "text", idx, parts = 64)
    val buf = mutable.Buffer.empty[SparkPlan]
    Caches.planProbe.set(buf)
    try Dedup.probeMinhashIndex(spark, idx, planted.limit(1),
      "doc_id", "text", threshold = 0.5)
    finally Caches.planProbe.remove()
    assert(buf.nonEmpty, "probe recorded no scoped plan")
    val plan = buf.map(_.toString).mkString("\n")
    // one doc probes ≤ bands (16) of the 64 bucket_p directories — the
    // literal isin must reach the scan as a partition filter
    assert(plan.contains("PartitionFilters: [bucket_p"),
      s"no bucket_p partition filter:\n${plan.take(2000)}")
    // and the Jaccard-verification scan prunes by the candidates' id
    // hash — NOT a corpus-wide shingle-table read
    assert(plan.contains("PartitionFilters: [id_p"),
      s"no id_p partition filter on the shingle scan:\n${plan.take(2000)}")
  }

  test("micro-batch chunking does not change the probe result") {
    val idx = Files.createTempDirectory("mhidx4").toString
    Dedup.buildMinhashIndex(docs, "doc_id", "text", idx, parts = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = rows(Dedup.probeMinhashIndex(spark, idx, planted,
      "doc_id", "text", threshold = 0.5))
    // any chunking — here one doc per "micro-batch" — unions to the same
    // pair set: the foreachBatch serving loop inherits batch semantics
    val chunked = (0 until 5).map { i =>
      rows(Dedup.probeMinhashIndex(spark, idx,
        planted.filter($"doc_id" === (100000L + i)),
        "doc_id", "text", threshold = 0.5))
    }.reduce(_ ++ _)
    assert(chunked === oneShot)
    assert(oneShot.nonEmpty)
  }

  test("compactIndex collapses the append-file pile; probe results identical") {
    val idx = Files.createTempDirectory("mhidx_c").toString
    // build + two appends: each append drops its own files into the
    // touched partition dirs — the delta pile a continuous-ingest index
    // accumulates
    Dedup.buildMinhashIndex(docs.filter($"doc_id" % 3 === 0),
      "doc_id", "text", idx, parts = 4)
    Dedup.appendToMinhashIndex(spark, idx,
      docs.filter($"doc_id" % 3 === 1), "doc_id", "text")
    Dedup.appendToMinhashIndex(spark, idx,
      docs.filter($"doc_id" % 3 === 2), "doc_id", "text")
    def probe() = Dedup.probeMinhashIndex(spark, idx, planted,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    def fileCount() = {
      def count(dir: java.io.File): Int =
        if (!dir.isDirectory) 0
        else dir.listFiles().map(f =>
          if (f.isDirectory) count(f)
          else if (f.getName.endsWith(".parquet")) 1 else 0).sum
      count(new java.io.File(s"$idx/postings")) +
        count(new java.io.File(s"$idx/shingles"))
    }
    val before = probe()
    val filesBefore = fileCount()
    val (nb, na) = IndexStore.compact(spark, idx)
    assert(nb === filesBefore)
    assert(na < nb, s"no collapse: $nb -> $na")
    assert(fileCount() === na)
    assert(probe() === before, "compaction changed probe results")
    assert(before.nonEmpty)
  }
}
