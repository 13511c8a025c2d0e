package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._

import graft.operators.{Caches, Dedup}

/** Shuffle row-WIDTH ratchet for the dedup tier.
  *
  * The exchange-budget gate (PlanRegressionSpec) caps shuffle COUNTS;
  * this spec pins what the dedup shuffles CARRY. The whole point of the
  * hashed-shingle/signature design is that every post-tokenize exchange
  * moves fixed-width integers (xxhash64 longs, signature arrays, ids) —
  * a future edit that shuffles raw text or string shingles where hashes
  * suffice would still pass the count budget while multiplying the bytes
  * on the corpus's heaviest column. Here it fails.
  *
  * Mechanics: [[Caches.planProbe]] records the physical plan of each
  * operator's materialized output (the internals the snapshot gate can't
  * see past the checkpoint); every ShuffleExchange in that plan — and in
  * the cached lineages it scans — is classified text-width (any
  * string/binary anywhere in its row type) or fixed-width. Contract per
  * operator: EXACTLY ONE text-width exchange, the initial spreadByKey of
  * the raw documents (which the size guard drops at corpus scale), and
  * zero others. */
class ShuffleWidthSpec extends SparkSuite {

  private def isTextType(dt: DataType): Boolean = dt match {
    case StringType | BinaryType => true
    case ArrayType(et, _) => isTextType(et)
    case st: StructType => st.fields.exists(f => isTextType(f.dataType))
    case MapType(k, v, _) => isTextType(k) || isTextType(v)
    case _ => false
  }

  private def allExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = {
    val here = p match { case e: ShuffleExchangeExec => Seq(e); case _ => Nil }
    val kids = p match {
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      // AQE wrappers are leaf-like — descend into the current physical
      // plan (some captures still plan adaptively despite the conf
      // toggle, e.g. when a cached fragment was planned earlier)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case _ => p.children
    }
    here ++ kids.flatMap(allExchanges)
  }

  /** Run `op` with AQE off (so captured plans expose plain
    * ShuffleExchangeExec nodes) and the plan probe installed; return the
    * (text-width, fixed-width) exchange partition. */
  private def probeExchanges(op: => Unit): (Seq[ShuffleExchangeExec], Seq[ShuffleExchangeExec]) = {
    val buf = mutable.Buffer.empty[SparkPlan]
    Caches.planProbe.set(buf)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try op
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Caches.planProbe.remove()
    }
    assert(buf.nonEmpty, "operator recorded no scoped plan — probe broken?")
    // a cached lineage is scanned by several InMemoryTableScans but its
    // exchanges ran once — dedupe captured nodes by plan identity
    val ex = buf.flatMap(allExchanges).distinctBy(_.id).toSeq
    assert(ex.nonEmpty, "no shuffle exchanges captured — walker broken?")
    ex.partition(e => e.output.exists(a => isTextType(a.dataType)))
  }

  private def docsDf = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text")

  private def assertOnlySpreadIsText(
      parts: (Seq[ShuffleExchangeExec], Seq[ShuffleExchangeExec])): Unit = {
    val (text, fixed) = parts
    assert(text.size === 1,
      s"expected exactly the raw-doc spread as the one text-width shuffle, got ${text.size}:\n" +
        text.map(e => e.output.map(a => s"${a.name}:${a.dataType.simpleString}")
          .mkString(", ")).mkString("\n"))
    // and the one text shuffle is the document spread (it carries the
    // raw text column), not some index/verify-side string leak
    assert(text.head.output.exists(_.name == "text"))
    assert(fixed.nonEmpty)
  }

  test("d02 minhash internals shuffle signatures/hashes, never shingle strings") {
    assertOnlySpreadIsText(probeExchanges {
      Dedup.minhashDedupPairs(docsDf, "doc_id", "text", threshold = 0.5).count()
    })
  }

  test("d04 ngram-jaccard inverted index shuffles hashed shingles only") {
    assertOnlySpreadIsText(probeExchanges {
      Dedup.ngramJaccardPairs(docsDf, "doc_id", "text", threshold = 0.5).count()
    })
  }

  test("d07 dup-spans inverted index shuffles hashed grams only") {
    // the (id, p, xxhash64(gram)) projection MAY collapse below the
    // spread repartition (then zero text shuffles at all); either way
    // the only permissible text-width exchange is the raw-doc spread —
    // gram STRINGS must never ride a shuffle
    val (text, _) = probeExchanges {
      Dedup.dupSpans(docsDf, "doc_id", "text", k = 5, minSpan = 10).count()
    }
    // at spec scale the gram join broadcasts and downstream aggs reuse
    // the spread's partitioning, so the spread may be the ONLY exchange —
    // the invariant is just that no gram STRING ever rides a shuffle
    assert(text.size <= 1 && text.forall(_.output.exists(_.name == "text")),
      text.map(_.output.map(a => s"${a.name}:${a.dataType.simpleString}")
        .mkString(", ")).mkString("\n"))
  }

  test("d11 tfidf inverted index shuffles md5-prefix keys, never gram strings") {
    val (text, fixed) = probeExchanges {
      graft.operators.Tfidf.cosinePairs(docsDf, "doc_id", "text",
        nGram = 3, dfCap = 64, threshold = 0.35).count()
    }
    // permissible strings on an exchange: the raw-doc spread's `text`,
    // and the FIXED-16-char `gram_key` — an unbounded gram/text column
    // anywhere else is the regression this ratchet exists to catch
    text.foreach { e =>
      val strs = e.output.filter(a => isTextType(a.dataType)).map(_.name)
      assert(strs.forall(n => n == "text" || n == "gram_key"),
        s"unexpected text-width shuffle columns: $strs")
    }
    assert(text.exists(_.output.exists(_.name == "gram_key")))
    assert(text.count(_.output.exists(_.name == "text")) <= 1)
    assert(fixed.nonEmpty || text.nonEmpty)
  }

  test("t15 contamination (hashed form) shuffles 8-byte grams only") {
    val (text, _) = probeExchanges {
      Dedup.contaminatedDocs(docsDf, "doc_id", "text",
        evalPred = col("doc_id") < 50, k = 5, hashed = true).count()
    }
    // since the unpivot-first reshape, the distinct and the final agg
    // both reuse the spread's id-partitioning (ClusteredDistribution on
    // a superset of the spread key), so the raw-doc spread is the ONLY
    // exchange — the invariant stays: no gram STRING ever rides one
    assert(text.size === 1 && text.head.output.exists(_.name == "text"),
      text.map(_.output.map(a => s"${a.name}:${a.dataType.simpleString}")
        .mkString(", ")).mkString("\n"))
  }

  test("spreadByKey skips the raw-text shuffle once the scan is wide enough") {
    // shrink the split size so the (tiny) test table's size estimate
    // clears the guard threshold — the repartition must disappear
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      val spread = Caches.spreadByKey(docsDf, col("doc_id"))
      assert(spread.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
      }.isEmpty, "repartition present despite a wide-enough scan")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    // and the small-input default still pins the partition count
    val small = Caches.spreadByKey(docsDf, col("doc_id"))
    assert(small.rdd.getNumPartitions ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("pq search: the only vector-width exchange is the corpus spread") {
    // the PQ analog of the text ratchet: after the subspace explode,
    // every exchange must carry codes/partials (ints, small structs) —
    // a future edit that lets the m·nCodes-amplified subvector rows or
    // the decoded corpus ride a shuffle passes the count budget while
    // multiplying the bytes; here it fails
    def isVecType(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType | FloatType, _) => true
      case st: StructType => st.fields.exists(f => isVecType(f.dataType))
      case _ => false
    }
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Similarity.pqTopK(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
      val vec = allExchanges(df.queryExecution.executedPlan)
        .distinctBy(_.id)
        .filter(_.output.exists(a => isVecType(a.dataType)))
      assert(vec.size <= 1,
        s"expected at most the corpus spread as a vector-width shuffle, got ${vec.size}:\n" +
          vec.map(_.output.map(a => s"${a.name}:${a.dataType.simpleString}")
            .mkString(", ")).mkString("\n"))
      // and if present it is the raw corpus spread (carries the input
      // vector column — before or after the double-cast projection)
      assert(vec.forall(_.output.exists(a =>
        a.name == "v" || a.name == "embedding")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
