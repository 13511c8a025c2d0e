package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, SearchIndex}

/** Materialized BM25 search index: serve ≡ the inline t17 BM25 over the
  * same corpus, append ≡ one-shot build (no drifting yardstick — df and
  * N/avgdl recompute at serve time), the serve scan partition-prunes to
  * the query terms' tok_p directories, and compaction collapses the
  * append pile without changing a served row. */
class Bm25IndexSpec extends SparkSuite {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text")
  private val terms = Seq("spark", "vector")

  private def served(idx: String) =
    SearchIndex.bm25Serve(spark, idx, terms, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  test("serve ≡ inline t17 BM25, byte for byte") {
    val idx = Files.createTempDirectory("bm25").toString
    SearchIndex.buildBm25Index(docs, "doc_id", "text", idx, parts = 16)
    val inline = graft.queries.PipelineQueries.t17Bm25(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(served(idx) === inline)
    assert(inline.nonEmpty)
  }

  test("null-text docs are not index members: excluded from N, deletable corpus unaffected") {
    // membership ≡ has-postings: a null-text row tokenizes to nothing,
    // so it must not count in n_docs (it would be undeletable — delete
    // derives membership from postings — leaving N forever inflated vs
    // a rebuild). Index over docs ∪ {null-text} ≡ index over docs.
    val withNull = docs.unionByName(
      Seq((999999L, Option.empty[String])).toDF("doc_id", "text"))
    val plain = Files.createTempDirectory("bm25_plain").toString
    val nulled = Files.createTempDirectory("bm25_nulled").toString
    SearchIndex.buildBm25Index(docs, "doc_id", "text", plain, parts = 8)
    SearchIndex.buildBm25Index(withNull, "doc_id", "text", nulled, parts = 8)
    assert(served(nulled) === served(plain))
    val stats = spark.read.parquet(s"$nulled/stats")
      .agg(sum("n_docs")).collect()(0).getLong(0)
    assert(stats === docs.count(), "null-text doc leaked into n_docs")
  }

  test("append ≡ one-shot build; compaction collapses files, serve fixed") {
    val oneShot = Files.createTempDirectory("bm25_one").toString
    val grown = Files.createTempDirectory("bm25_grow").toString
    SearchIndex.buildBm25Index(docs, "doc_id", "text", oneShot, parts = 8)
    SearchIndex.buildBm25Index(docs.filter($"doc_id" % 3 === 0),
      "doc_id", "text", grown, parts = 8)
    SearchIndex.appendToBm25Index(spark, grown,
      docs.filter($"doc_id" % 3 === 1), "doc_id", "text")
    SearchIndex.appendToBm25Index(spark, grown,
      docs.filter($"doc_id" % 3 === 2), "doc_id", "text")
    val expect = served(oneShot)
    assert(served(grown) === expect)
    val (before, after) = IndexStore.compact(spark, grown)
    assert(after < before, s"no collapse ($before -> $after)")
    assert(served(grown) === expect, "compaction changed served rows")
  }

  test("delete ≡ never-appended (stats negatives land exactly); purge " +
      "serve-invariant and clears tombstones") {
    val full = Files.createTempDirectory("bm25_del").toString
    val twin = Files.createTempDirectory("bm25_twin").toString
    val core = docs.filter($"doc_id" % 3 === 0)
    val sliceA = docs.filter($"doc_id" % 3 === 1)
    val sliceB = docs.filter($"doc_id" % 3 === 2)
    SearchIndex.buildBm25Index(core, "doc_id", "text", full, parts = 8)
    SearchIndex.appendToBm25Index(spark, full, sliceA, "doc_id", "text")
    SearchIndex.appendToBm25Index(spark, full, sliceB, "doc_id", "text")
    SearchIndex.buildBm25Index(core, "doc_id", "text", twin, parts = 8)
    SearchIndex.appendToBm25Index(spark, twin, sliceA, "doc_id", "text")
    val before = served(full)
    IndexStore.delete(spark, full, sliceB.select("doc_id"))
    val tombstoned = served(full)
    assert(tombstoned === served(twin),
      "tombstoned serve differs from the never-appended twin")
    assert(tombstoned !== before, "delete was a vacuous no-op")
    // deletion is idempotent: repeating the request must not subtract
    // the victims' stats partial a second time
    IndexStore.delete(spark, full, sliceB.select("doc_id"))
    assert(served(full) === tombstoned, "double delete skewed the stats")
    IndexStore.purge(spark, full)
    assert(served(full) === tombstoned, "purge changed served rows")
    assert(!new java.io.File(s"$full/tombstones").exists)
    assert(spark.read.parquet(s"$full/postings")
      .join(sliceB.select($"doc_id"), Seq("doc_id"), "left_semi").isEmpty,
      "purge left deleted docs' postings rows")
    // a delete of already-purged ids is fully vacuous: it must not
    // resurrect the tombstone dir (which would put every later serve
    // back on the anti-join path for an empty table)
    IndexStore.delete(spark, full, sliceB.select("doc_id"))
    assert(!new java.io.File(s"$full/tombstones").exists,
      "vacuous delete recreated the tombstone dir")
    assert(served(full) === tombstoned)
  }

  test("a purge crashed between the stats fold and the tombstone delete " +
      "serves correctly and converges on re-run") {
    val idx = Files.createTempDirectory("bm25_crash").toString
    val keep = docs.filter($"doc_id" % 3 =!= 2)
    SearchIndex.buildBm25Index(docs, "doc_id", "text", idx, parts = 8)
    IndexStore.delete(spark, idx,
      docs.filter($"doc_id" % 3 === 2).select("doc_id"))
    val tombstoned = served(idx)
    // simulate the crash window: the fold committed (marker + folded
    // stats) but the tombstones were never deleted — a serve here must
    // NOT subtract the victims a second time
    SearchIndex.foldTombstonesIntoStats(spark, idx)
    assert(new java.io.File(s"$idx/tombstones").exists)
    assert(served(idx) === tombstoned,
      "serve double-subtracted stats in the crashed-purge window")
    // the re-run purge skips the fold and completes
    IndexStore.purge(spark, idx)
    assert(served(idx) === tombstoned, "re-run purge changed served rows")
    assert(!new java.io.File(s"$idx/tombstones").exists)
    // the end state is the never-appended twin, stats folded once
    val twin = Files.createTempDirectory("bm25_crash_twin").toString
    SearchIndex.buildBm25Index(keep, "doc_id", "text", twin, parts = 8)
    assert(served(idx) === served(twin))
  }

  test("re-deleting the same docs after purge + re-append corrects " +
      "stats again (the stale-marker trap)") {
    val idx = Files.createTempDirectory("bm25_redel").toString
    val victims = docs.filter($"doc_id" % 3 === 2)
    SearchIndex.buildBm25Index(docs, "doc_id", "text", idx, parts = 8)
    IndexStore.delete(spark, idx, victims.select("doc_id"))
    IndexStore.purge(spark, idx)
    // the docs come back (a corrected re-ingest), then get deleted
    // AGAIN: the second delete's tombstone set has the same ids as the
    // purged one — a stale fold marker must not shadow its correction
    SearchIndex.appendToBm25Index(spark, idx, victims, "doc_id", "text")
    IndexStore.delete(spark, idx, victims.select("doc_id"))
    val twin = Files.createTempDirectory("bm25_redel_twin").toString
    SearchIndex.buildBm25Index(docs.filter($"doc_id" % 3 =!= 2),
      "doc_id", "text", twin, parts = 8)
    assert(served(idx) === served(twin),
      "re-delete after purge served stale-marker stats (N overcounted)")
    // and the second purge folds the correction, not skipping on the
    // stale signature
    IndexStore.purge(spark, idx)
    assert(served(idx) === served(twin),
      "second purge skipped its stats fold on the stale marker")
  }

  test("the serve scan partition-prunes to the query terms' tok_p dirs") {
    val idx = Files.createTempDirectory("bm25_prune").toString
    SearchIndex.buildBm25Index(docs, "doc_id", "text", idx, parts = 16)
    val plan = SearchIndex.bm25Serve(spark, idx, terms, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [tok_p"),
      s"no tok_p partition filter:\n${plan.take(2000)}")
  }
}
