package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Materialized full-text (BM25) search index — the lexical retrieval
  * twin of the ANN index families, and the serving tier t17's inline
  * BM25 stands in for: build once, then answer keyword queries from a
  * partition-pruned postings scan instead of re-tokenizing the corpus.
  *
  * Layout under `indexDir`:
  *  - `postings` — (token, doc_id, tf, dl) PARTITIONED BY
  *    `tok_p = pmod(xxhash64(token), parts)`: a query's terms map to a
  *    handful of tok_p directories, collected into a LITERAL partition
  *    filter at serve time ([[IndexStore.live]], the
  *    [[Dedup.probeMinhashIndex]] / [[Similarity.ivfServeTopK]]
  *    discipline);
  *  - `stats` — one (n_docs, sum_dl) partial row PER build/append
  *    batch: exact integer sums, so corpus-level N and avgdl are a
  *    3-row aggregate at serve time, never a corpus scan;
  *  - `meta` — the frozen partition count ([[IndexStore.Meta]]).
  *
  * Delete, purge and compaction are [[IndexStore]]'s. BM25 keeps only
  * its stats correction: tombstones carry each deleted doc's length
  * (`dl`), every serve subtracts them from N/Σdl ([[liveStats]]), and
  * purge folds them into `stats` ([[foldTombstonesIntoStats]]) before
  * the postings rows go.
  *
  * Unlike the IVF/PQ families there is NO drifting yardstick: postings
  * are a pure per-document function, and df/N/avgdl are recomputed at
  * serve time from the (pruned) postings and the stats partials — so
  * [[appendToBm25Index]] is ALWAYS exactly a one-shot rebuild, and a
  * serve is ALWAYS exactly the inline BM25 over the current corpus
  * (Bm25IndexSpec asserts both, byte-for-byte against t17's inline
  * formulation). */
object SearchIndex {

  /** The family name in the index meta; [[IndexStore.purge]] runs the
    * stats fold for it. */
  private[graft] val Family = "bm25"

  private val Postings = IndexStore.Table("postings", Some("doc_id"),
    Some("tok_p"))

  private def postingsRows(docs: DataFrame, idCol: String, textCol: String,
      parts: Int): DataFrame =
    Caches.spreadByKey(docs, col(idCol))
      .select(col(idCol).cast("long").as("doc_id"),
        TextFns.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
      .withColumn("tok_p", pmod(xxhash64(col("token")), lit(parts.toLong)))

  private def statsRow(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // count(textCol), not count(*): a NULL-text row is not an indexed
    // document — it tokenizes to nothing, so it has NO postings rows,
    // and counting it in n_docs would make it undeletable (delete
    // derives membership from postings) with N permanently inflated
    // vs a rebuild. Membership ≡ has-postings, by definition.
    Caches.spreadByKey(docs, col(idCol))
      .agg(count(col(textCol)).as("n_docs"),
        sum(size(TextFns.tokens(col(textCol))).cast("long")).as("sum_dl"))

  /** Build the index: one tokenize + grouped-tf pass over the corpus,
    * one writer task per touched tok_p partition. `parts` bounds the
    * serve-time collect and the directory fan-out. */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, parts: Int = 64): Unit = {
    require(parts >= 1, s"parts ($parts) must be >= 1")
    val spark = docs.sparkSession
    IndexStore.create(spark, indexDir, IndexStore.Meta(Family,
      Map("parts" -> parts.toLong), Seq(Postings), tombCols = Seq("dl")))
    IndexStore.write(postingsRows(docs, idCol, textCol, parts), indexDir,
      Postings, "overwrite")
    // stats WITHOUT a second tokenize pass (the corpus's most expensive
    // scan): n_docs is a tokenize-free count of the input's NON-NULL
    // texts (count(textCol) — a null-text row has no postings, so it is
    // not an index member; see statsRow), Σdl comes from the per-doc
    // lengths already persisted in the written postings
    val nDocs = Caches.spreadByKey(docs, col(idCol))
      .agg(count(col(textCol)).as("n_docs"))
    val sumDl = spark.read.parquet(s"$indexDir/postings")
      .groupBy("doc_id").agg(first("dl").as("dl"))
      .agg(coalesce(sum("dl"), lit(0L)).as("sum_dl"))
    nDocs.crossJoin(sumDl)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** Append new documents — cost ∝ increment: the increment pays one
    * tokenize/tf pass and lands in its tok_p partitions plus ONE new
    * stats partial row; the settled postings are never read. Exactly
    * equivalent to a one-shot rebuild, always. Takes the maintenance
    * lock: an append racing a purge's per-partition swap (or the stats
    * fold's directory swap) would land rows in a directory that is
    * about to be deleted as the swap backup. */
  def appendToBm25Index(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, idCol: String, textCol: String): Unit =
    graft.core.Tables.withMaintenanceLock(spark, indexDir) {
      val parts = IndexStore.meta(spark, indexDir).int("parts")
      statsRow(newDocs, idCol, textCol)
        .coalesce(1).write.mode("append").parquet(s"$indexDir/stats")
      IndexStore.write(postingsRows(newDocs, idCol, textCol, parts),
        indexDir, Postings, "append")
    }

  /** Marker file inside `stats` recording the tombstone-set signature
    * whose negative partial the table already absorbed (written
    * atomically WITH the folded data by [[foldTombstonesIntoStats]]'s
    * replaceAtomic) — how a serve in a crashed-purge window knows not
    * to subtract the same victims twice. Underscore-prefixed so the
    * parquet reader skips it. */
  private val FoldedMarker = "_folded_tombstones"

  /** Deterministic signature of a tombstone set:
    * (count, Σ xxhash64(id), Σdl) — the hash sum as an exact decimal
    * (a long sum can overflow under ANSI arithmetic). Σdl is part of
    * the identity: the same ids re-deleted after a re-append with
    * different lengths subtract a DIFFERENT stats correction, and must
    * not match a stale marker. */
  private def tombSig(toms: DataFrame): String = {
    val r = toms.agg(count(lit(1)),
      sum(xxhash64(col("id")).cast("decimal(38,0)")), sum(col("dl"))).head
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  private def readFoldedMarker(spark: SparkSession,
      statsDir: String): Option[String] =
    graft.core.Tables.readMarker(spark, statsDir, FoldedMarker)

  /** Corpus-level (N, Σdl) as a 1-row frame: the additive stats
    * partials, MINUS the live tombstones' contribution — unless the
    * stats table already absorbed exactly this tombstone set
    * ([[FoldedMarker]]), which is the crashed-purge window where
    * subtracting again would double-correct. */
  private def liveStats(spark: SparkSession, indexDir: String): DataFrame = {
    val base = spark.read.parquet(s"$indexDir/stats")
      .select(col("n_docs"), col("sum_dl"))
    val tombP = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    val fs = tombP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val withCorrection =
      if (!fs.exists(tombP)) base
      else {
        val toms = spark.read.parquet(tombP.toString)
        if (readFoldedMarker(spark, s"$indexDir/stats")
            .contains(tombSig(toms))) base
        else base.unionByName(toms.agg(
          (-count(lit(1))).as("n_docs"), (-sum("dl")).as("sum_dl")))
      }
    withCorrection
      .agg(sum("n_docs").as("__n"), sum("sum_dl").as("__s"))
      .select(col("__n").cast("double").as("n_docs"),
        (col("__s").cast("double") / col("__n")).as("avg_len"))
  }

  /** Serve a keyword query: top-k documents by BM25 (Lucene's variant,
    * t17's exact arithmetic — idf = ln(1 + (N-df+0.5)/(df+0.5)),
    * default k1 = 1.2, b = 0.75). The terms' tok_p values become a
    * LITERAL partition filter (computed by the same xxhash64 the build
    * used, via a 1-row local job), so the scan reads |terms| directory
    * slivers of the postings, never the corpus; df comes exactly from
    * the pruned rows, N/avgdl from the stats partials. Top-k plans as
    * TakeOrderedAndProject. */
  def bm25Serve(spark: SparkSession, indexDir: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Serve needs at least one term")
    import spark.implicits._
    val parts = IndexStore.meta(spark, indexDir).int("parts")
    val ps = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(parts.toLong)))
      .distinct().collect().map(_.getLong(0)) // bounded by |terms|
    val tf = IndexStore.live(spark, indexDir, Postings, Some(ps.toSeq))
      .filter(col("token").isin(terms: _*))
      .select(col("doc_id"), col("token"),
        col("tf").cast("double").as("tf"), col("dl").cast("double").as("len"))
    val stats = liveStats(spark, indexDir)
    val dfreq = tf.groupBy("token")
      .agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfPart = col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avg_len")))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * tfPart)
      .groupBy("doc_id")
      .agg(round(sum("term_score"), 4).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score"), col("doc_id")).limit(k)
  }

  /** BM25's purge step, run by [[IndexStore.purge]] under its lock
    * before the postings rows go, in an order where EVERY crash window
    * serves correctly and a re-run converges: this fold commits the
    * tombstones' negative (count, Σdl) partial atomically WITH a
    * [[FoldedMarker]] carrying the set's signature
    * ([[graft.core.Tables.replaceAtomic]]), so a serve between the fold
    * and the tombstone delete sees the marker match and skips its live
    * correction (no double subtraction), and a re-run skips the fold.
    * Deletes take the same lock, so no tombstone can slip between the
    * signature read and the fold. */
  private[graft] def foldTombstonesIntoStats(spark: SparkSession,
      indexDir: String): Unit = {
    val toms = spark.read.parquet(s"$indexDir/tombstones")
    val sig = tombSig(toms)
    if (!readFoldedMarker(spark, s"$indexDir/stats").contains(sig)) {
      val folded = spark.read.parquet(s"$indexDir/stats")
        .select(col("n_docs"), col("sum_dl"))
        .unionByName(toms.agg((-count(lit(1))).as("n_docs"),
          (-sum("dl")).as("sum_dl")))
      graft.core.Tables.replaceAtomic(spark, s"$indexDir/stats", folded,
        marker = Some(FoldedMarker -> sig))
    }
  }

  /** Drop the fold marker once the tombstones are gone ([[IndexStore
    * .purge]]'s last step, also clearing the residue of a purge that
    * crashed between the two deletes): a stale marker would shadow the
    * NEXT delete's correction and fold when that set's signature
    * collides (same docs re-deleted after a re-append). */
  private[graft] def dropFoldedMarker(spark: SparkSession,
      indexDir: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$indexDir/stats",
      FoldedMarker)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
  }
}
