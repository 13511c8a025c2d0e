package graft.operators

import graft.operators.Caches.EagerOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Materialized corpus token statistics — the text-tier member of the
  * build-once/serve-many index family ([[Similarity.buildIvfIndex]],
  * [[Dedup]]'s MinHash index): ONE corpus tokenize pass reduces to a
  * persisted `(source, token, cnt)` table that then serves every
  * distribution-shaped query (per-source KL, top-token profiles,
  * unigram LM denominators) without ever re-reading the corpus.
  *
  * Incremental maintenance is LSM-shaped: [[appendTokenStats]]
  * tokenizes ONLY the increment and appends delta rows — no
  * read-modify-write of the settled index — and [[tokenStats]]
  * sum-merges deltas on read (a dictionary-scale aggregate). Nightly
  * maintenance therefore costs ∝ increment; a periodic [[compact]]
  * rewrite folds accumulated deltas back to one row per (source,
  * token) when the delta tail grows. The dir's meta and layout are
  * [[IndexStore]]'s, so [[IndexStore.compact]] folds its file pile
  * like any index's; the counts are not id-keyed, so there is nothing
  * to tombstone. At 100 TB the corpus tokenize is the single most
  * expensive text pass there is — this index is how t39/t08-class
  * questions get answered daily without paying it daily. */
object TokenIndex {

  private[graft] def counts(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame =
    Caches.spreadByKey(docs, col(idCol))
      .select(col(srcCol).as("source"),
        explode(TextFns.tokens(col(textCol))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))

  /** The one growable table: (source, token, cnt) delta rows, not
    * id-keyed — counts are deleted by re-counting, never by id. */
  private val TokenStats = IndexStore.Table("token_stats", None, None)

  /** Build the index from scratch: one tokenize, one dictionary-scale
    * shuffle, one parquet write. */
  def buildTokenStats(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, indexDir: String): Unit = {
    IndexStore.create(docs.sparkSession, indexDir,
      IndexStore.Meta("token", Map.empty, Seq(TokenStats)))
    IndexStore.write(counts(docs, idCol, textCol, srcCol), indexDir,
      TokenStats, "overwrite")
  }

  /** Append an increment's counts as delta rows — tokenizes ONLY
    * `newDocs`; the settled index is untouched. Takes the index's
    * maintenance lock: an append committing between [[compact]]'s
    * merge snapshot and its directory swap would be deleted with the
    * swapped-out backup, silently losing those counts forever. */
  def appendTokenStats(newDocs: DataFrame, idCol: String, textCol: String,
      srcCol: String, indexDir: String): Unit =
    graft.core.Tables.withMaintenanceLock(newDocs.sparkSession, indexDir) {
      IndexStore.write(counts(newDocs, idCol, textCol, srcCol), indexDir,
        TokenStats, "append")
    }

  /** The merged view: sum delta rows per (source, token). Exactly the
    * table [[buildTokenStats]] would produce over the union corpus —
    * counts are mergeable, so append order and batch boundaries can
    * never change the result. Heals a crashed [[compact]] swap first:
    * without it every serve after such a crash would fail on the
    * missing settled dir until a compact was manually re-run. */
  def tokenStats(spark: SparkSession, indexDir: String): DataFrame = {
    graft.core.Tables.recoverReplaceAtomic(spark, s"$indexDir/token_stats")
    spark.read.parquet(s"$indexDir/token_stats")
      .groupBy("source", "token").agg(sum("cnt").as("cnt"))
  }

  /** Fold accumulated deltas back to one row per key (run when the
    * delta tail grows past taste; serving is correct either way).
    * Crash-safe through [[graft.core.Tables.replaceAtomic]]: the merged
    * table is staged complete before the settled dir moves, and a
    * re-run is a pure re-merge, idempotent. */
  def compact(spark: SparkSession, indexDir: String): Unit =
    graft.core.Tables.withMaintenanceLock(spark, indexDir) {
      graft.core.Tables.replaceAtomic(spark, s"$indexDir/token_stats",
        tokenStats(spark, indexDir))
    }

  /** t39's per-source KL divergence served FROM THE INDEX — the same
    * math as the inline query, zero corpus reads. */
  def serveDomainKl(spark: SparkSession, indexDir: String): DataFrame = {
    val sc = tokenStats(spark, indexDir)
      .withColumnRenamed("cnt", "cs").eagerCheckpoint()
    val st = sc.groupBy("source").agg(sum("cs").cast("double").as("ns"))
    val cc = sc.groupBy("token").agg(sum("cs").cast("double").as("c"))
    val nt = cc.agg(sum("c").as("n"))
    sc.join(broadcast(cc), "token").join(broadcast(st), "source")
      .crossJoin(broadcast(nt))
      .groupBy(col("source"), col("ns"))
      .agg(round(sum((col("cs").cast("double") / col("ns")) *
        log((col("cs").cast("double") / col("ns")) /
          (col("c") / col("n")))), 4).as("kl"))
      .select(col("source"), col("ns").cast("long").as("n_tokens"), col("kl"))
      .orderBy("source")
  }

  /** Corpus-wide top-`n` tokens by total frequency, from the index
    * (tie by token text — deterministic). */
  def serveTopTokens(spark: SparkSession, indexDir: String,
      n: Int): DataFrame =
    tokenStats(spark, indexDir)
      .groupBy("token").agg(sum("cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(n)
}
