package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exactDedup keeps min id per normalized text and counts dups") {
    val d = docs(
      1L -> "Hello   World",
      2L -> "hello world",   // same after normalization
      3L -> "something else")
    val out = Dedup.exactDedup(d, "doc_id", "text")
      .select("doc_id", "n_dups").orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds near-identical docs, skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val nearDup = base.replace("tonight", "today")
    val unrelated = "completely different words about spark catalyst optimizer plans and shuffles everywhere"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.minhashDedupPairs(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash jaccard of identical docs is 1.0") {
    val d = docs(1L -> "alpha beta gamma delta epsilon", 2L -> "alpha beta gamma delta epsilon")
    val row = Dedup.minhashDedupPairs(d, "doc_id", "text", threshold = 0.9)
      .collect()
    assert(row.length === 1)
    assert(row(0).getDouble(2) === 1.0)
  }

  /** The four 16-bit SimHash chunks of each doc packed into one long,
    * in id order. */
  private def fingerprints(d: org.apache.spark.sql.DataFrame): Seq[Long] =
    Dedup.withSimhashChunks(d, "doc_id", "text").orderBy("id").collect()
      .map(r => (0 until 4).map(j => r.getLong(j + 1) << (16 * j)).reduce(_ | _))
      .toSeq

  test("simhash of identical docs is equal; hamming pairs found") {
    val d = docs(
      1L -> "spark catalyst tungsten codegen shuffle partition broadcast join agg window",
      2L -> "spark catalyst tungsten codegen shuffle partition broadcast join agg window",
      3L -> "zzz yyy xxx www vvv uuu ttt sss rrr qqq")
    val fps = fingerprints(d)
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
    val pairs = Dedup.simhashPortablePairs(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)))
  }

  test("simhash blocking catches all pairs with hamming <= 3 (pigeonhole)") {
    // identical except one low-weight token difference → small hamming;
    // blocked pairs must equal brute-force pairs at the same cutoff
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val variant = base.replace("tok40", "tok41")
    val d = docs(1L -> base, 2L -> variant)
    val fps = fingerprints(d)
    val hamming = java.lang.Long.bitCount(fps(0) ^ fps(1))
    val blocked = Dedup.simhashPortablePairs(d, "doc_id", "text", maxHamming = 3)
      .collect()
    if (hamming <= 3) assert(blocked.length === 1)
    else assert(blocked.isEmpty)
  }

  test("ngram jaccard pairs: identical docs 1.0, prefix-blocked") {
    val d = docs(
      1L -> "shared prefix one two three four five",
      2L -> "shared prefix one two three four five",
      3L -> "shared prefix totally different tail words here",
      4L -> "other block entirely")
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("native minhash aggregate is bit-identical to the 64-agg expression form") {
    val rnd = new scala.util.Random(11)
    val d = (1L to 50L).map { i =>
      i -> Seq.fill(5 + rnd.nextInt(60))(rnd.nextLong())
    }.toDF("id", "hs")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assert(sigs(Dedup.signaturesFromHashes(d, 64)) ===
      sigs(ExprTwins.signaturesFromHashesExpr(d, 64)))
    assert(sigs(Dedup.signaturesFromHashes(d, 16)) ===
      sigs(ExprTwins.signaturesFromHashesExpr(d, 16)))
  }

  test("dupClusters: min-label propagation finds components incl. chains") {
    val d = (1L to 7L).toDF("doc_id")
    // components: {1,2,3} via chain, {5,6}, singletons 4 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(d, "doc_id", pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("native simhash_chunks aggregate ≡ lane-packed expression formulation") {
    val rnd = new scala.util.Random(19)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val d = (1L to 30L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(40))(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    def chunks(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect()
        .map(r => (r.getLong(0), (1 to 4).map(r.getLong))).toSeq
    assert(chunks(Dedup.withSimhashChunks(d, "doc_id", "text")) ===
      chunks(ExprTwins.withSimhashChunksExpr(d, "doc_id", "text")))
  }

  test("native shingle_hashes ≡ composed array_distinct(transform(...)) elementwise") {
    val rnd = new scala.util.Random(7)
    val words = Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy",
      "dog", "Spark", "ENGINE", "data")
    val texts = Seq("", " ", "one", "one two", "  padded   text  here  ") ++
      (1 to 40).map(_ => Seq.fill(2 + rnd.nextInt(30))(
        words(rnd.nextInt(words.size))).mkString(" "))
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (k <- Seq(1, 3, 5)) {
      val native = d.select(col("id"), Dedup.hashedShingles(col("text"), k).as("hs"))
        .orderBy("id").collect().map(_.getSeq[Long](1)).toSeq
      val composed = d.select(col("id"), ExprTwins.hashedShinglesExpr(col("text"), k).as("hs"))
        .orderBy("id").collect().map(_.getSeq[Long](1)).toSeq
      assert(native === composed, s"k=$k")
    }
  }

  test("contaminatedDocs flags n-gram overlap with the eval slice; hashed ≡ string variant") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // eval
      (2L, "one two three four five six"),         // eval
      // shares the 5-gram "alpha beta gamma delta epsilon" with doc 1
      (10L, "alpha beta gamma delta epsilon eta theta"),
      // clean: no 5-gram in common with any eval doc
      (11L, "seven eight nine ten eleven twelve"),
      // shares with BOTH eval docs
      (12L, "alpha beta gamma delta epsilon zeta one two three four five six")
    ).toDF("doc_id", "text")
    def run(hashed: Boolean) =
      Dedup.contaminatedDocs(d, "doc_id", "text", col("doc_id") < 10L,
          k = 5, hashed = hashed)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = run(hashed = false)
    assert(got.map(_._1) === Seq(10L, 12L)) // 11 is clean
    assert(got.find(_._1 == 12L).get._3 === 2L) // hits both eval docs
    assert(got === run(hashed = true)) // 8-byte-key path is equivalent
  }

  test("contamination: a NULL eval predicate means train side — still screened") {
    // a null predicate row (source IS NULL under source === 'bench')
    // must land on the TRAIN side and get checked; failing both filters
    // would silently report a contaminated doc as clean
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "bench"),
      (10L, "alpha beta gamma delta epsilon eta", null))
      .toDF("doc_id", "text", "source")
    val got = Dedup.contaminatedDocs(d, "doc_id", "text",
        col("source") === "bench", k = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(10L),
      "the null-source train doc shares an eval 5-gram and must flag")
  }

  test("dupClusters: truncated propagation throws instead of returning split labels") {
    // a 5-chain is not yet a star after one large/small-star round;
    // maxRounds=1 must be loud, not silently emit two labels for one
    // component
    val d = (1L to 5L).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    // forced distributed: the local union-find finish is exact at any
    // depth, so maxRounds only governs the over-cap star rounds
    val e = intercept[IllegalStateException] {
      forceDistributed {
        Dedup.dupClusters(d, "doc_id", chain, maxRounds = 1).collect()
      }
    }
    assert(e.getMessage.contains("converge"))
    // the same chain converges fine under the default bound
    val ok = Dedup.dupClusters(d, "doc_id", chain)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ok === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("dupClusters: no pairs → every doc is its own cluster") {
    val d = (1L to 3L).toDF("doc_id")
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.dupClusters(d, "doc_id", none)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("portable simhash chunks match a plain-JVM reference on random docs") {
    // guards the lane-packed aggregation: same md5-derived bit layout,
    // computed here the slow obvious way
    def refChunks(text: String): Seq[Long] = {
      val toks = text.trim.toLowerCase.split("\\s+").distinct
      val acc = new Array[Int](64)
      toks.foreach { t =>
        val hx = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val hi = java.lang.Long.parseLong(hx.substring(0, 8), 16)
        val lo = java.lang.Long.parseLong(hx.substring(8, 16), 16)
        (0 until 64).foreach { b =>
          val bit = if (b < 32) (lo >> b) & 1L else (hi >> (b - 32)) & 1L
          acc(b) += (if (bit == 1L) 1 else -1)
        }
      }
      (0 until 4).map { j =>
        (0 until 16).map(t => if (acc(16 * j + t) > 0) 1L << t else 0L).sum
      }
    }
    val rnd = new scala.util.Random(7)
    val texts = (1L to 20L).map { i =>
      i -> Seq.fill(3 + rnd.nextInt(40))(
        rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString(" ")
    }
    val got = Dedup.withSimhashChunks(texts.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    val want = texts.sortBy(_._1).map { case (i, t) => (i, refChunks(t)) }
    assert(got.toSeq === want)
  }

  test("shingles: short docs fall back to whole-text shingle") {
    val d = docs(1L -> "one two")
    val sh = d.select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect()(0).getSeq[String](0)
    assert(sh === Seq("one two"))
  }

  test("dupSpans recovers the exact longest shared token span") {
    val shared = (1 to 25).map(i => s"s$i") // 25-token verbatim block
    val a = ((1 to 10).map(i => s"a$i") ++ shared ++ Seq("tailA")).mkString(" ")
    val b = (shared ++ (1 to 8).map(i => s"b$i")).mkString(" ")
    val c = (1 to 30).map(i => s"c$i").mkString(" ")
    val out = Dedup.dupSpans(docs(1L -> a, 2L -> b, 3L -> c),
        "doc_id", "text", k = 5, minSpan = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 25L)))
  }

  test("dupSpans: below-threshold overlap and short docs produce nothing") {
    val shared = (1 to 10).map(i => s"s$i") // only a 10-token overlap
    val a = ((1 to 10).map(i => s"a$i") ++ shared).mkString(" ")
    val b = (shared ++ (1 to 10).map(i => s"b$i")).mkString(" ")
    val out = Dedup.dupSpans(
      docs(1L -> a, 2L -> b, 3L -> "tiny doc", 4L -> "tiny doc"),
      "doc_id", "text", k = 5, minSpan = 20)
    assert(out.count() === 0)
  }

  test("incremental minhash equals the full dedup restricted to new endpoints") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val isNew = (id: Long) => id % 5 == 2
    val full = Dedup.minhashDedupPairs(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => isNew(p._1) || isNew(p._2)).toSet
    val incr = Dedup.incrementalMinhashPairs(d, "doc_id", "text",
        newPred = col("doc_id") % 5 === 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty, "need near-dup pairs touching the increment")
    assert(incr === full)
    // and nothing from the settled corpus pairs with itself
    assert(incr.forall(p => isNew(p._1) || isNew(p._2)))
  }

  test("hot-bucket cap: identical-doc cluster stays linear, keeps connectivity") {
    // 5000 identical docs = the boilerplate-template blowup: every member
    // shares EVERY band bucket, so un-capped clique generation would emit
    // ~12.5M candidate pairs (5000·4999/2); the cap must route the bucket
    // through the representative star — N-1 pairs, cluster intact
    val n = 5000L
    val hot = (1L to n).map(i => i -> "the same boilerplate template text repeated verbatim on every page")
    val others = Seq(
      (n + 1L) -> "one genuinely unique document about spark catalyst plans",
      (n + 2L) -> "another singleton document with fully distinct token content")
    val d = (hot ++ others).toDF("doc_id", "text")
    val pairs = Dedup.minhashDedupPairs(d, "doc_id", "text",
      threshold = 0.5, maxBucket = 8)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // star around min id: exactly N-1 verified pairs, all jaccard 1.0
    assert(got.length === (n - 1).toInt)
    assert(got.forall { case (a, _, j) => a == 1L && j == 1.0 })
    // connectivity is what dedup consumes: one cluster, min-id rep
    val clusters = Dedup.dupClusters(d, "doc_id", pairs)
      .groupBy("cluster_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters === Map(1L -> n, (n + 1L) -> 1L, (n + 2L) -> 1L))
  }

  test("hot-bucket cap: minhashDedupPairs star is bounded and ordered") {
    val d = (1L to 100L)
      .map(_ -> "one boilerplate template repeated verbatim on every page")
      .toDF("doc_id", "text")
    // 100 identical docs share every band bucket: far over the cap, so
    // only the star around the min id is enumerated, each (1, i) ordered
    val pairs = Dedup.minhashDedupPairs(d, "doc_id", "text",
        threshold = 0.9, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (2L to 100L).map(i => (1L, i)).toSet)
  }

  test("hot-bucket cap: below-cap buckets keep the exact clique") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(1L -> base, 2L -> base, 3L -> base,
      4L -> "completely different content about other things entirely")
    // bucket size 3 <= cap: full clique of the triple must survive
    val got = Dedup.minhashDedupPairs(d, "doc_id", "text",
        threshold = 0.9, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  /** Force the distributed star rounds (the over-cap scale path) by
    * zeroing the local union-find finish's edge cap. */
  private def forceDistributed[A](body: => A): A = {
    spark.conf.set("spark.graft.cc.localFinishEdges", "0")
    try body finally spark.conf.unset("spark.graft.cc.localFinishEdges")
  }

  /** Plain-Scala component labels over docs 1..n: relax every edge to
    * the min of its endpoints' labels until nothing changes. */
  private def refClusters(n: Long, edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val label = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (a, b) =>
        val m = math.min(label(a), label(b))
        if (label(a) != m || label(b) != m) {
          label(a) = m; label(b) = m; changed = true
        }
      }
    }
    (1L to n).map(i => i -> label(i))
  }

  private def clusters(d: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, maxRounds: Int = 20) =
    Dedup.dupClusters(d, "doc_id", pairs, maxRounds).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("dupClusters: forced distributed rounds ≡ the plain-Scala reference on random graphs") {
    val rnd = new scala.util.Random(7)
    val n = 200L
    val d = (1L to n).toDF("doc_id")
    val edges = Seq.fill(150)((rnd.nextLong(n) + 1, rnd.nextLong(n) + 1))
      .filter { case (a, b) => a != b }
    assert(forceDistributed(clusters(d, edges.toDF("id_a", "id_b"))) ===
      refClusters(n, edges))
  }

  test("local union-find finish ≡ distributed rounds on random, chain, star, clique") {
    // the local finish must be byte-identical to the converged
    // distributed fixed point, deep diameters included
    val rnd = new scala.util.Random(41)
    val n = 250L
    val d = (1L to n).toDF("doc_id")
    val shapes = Seq(
      Seq.fill(200)((rnd.nextLong(n) + 1, rnd.nextLong(n) + 1))
        .filter { case (a, b) => a != b },
      (1L until 60L).map(i => (i, i + 1)),
      (2L to 40L).map(i => (1L, i)),
      Seq((240L, 241L), (241L, 242L), (240L, 242L)))
    shapes.foreach { edges =>
      val pairs = edges.toDF("id_a", "id_b")
      val local = clusters(d, pairs)
      assert(local === refClusters(n, edges))
      assert(forceDistributed(clusters(d, pairs)) === local)
    }
  }

  test("dupClusters: phantom pair-ids fall back to the inert distributed semantics") {
    // pair ids ABSENT from docs are inert — they never transit
    // connectivity. The local union-find WOULD transit them, so the
    // probe must reject the local result and the distributed fallback
    // must keep 1 and 2 in separate clusters (connected only through
    // phantom 99).
    val d = (1L to 3L).toDF("doc_id")
    val pairs = Seq((1L, 99L), (99L, 2L)).toDF("id_a", "id_b")
    assert(clusters(d, pairs) === Seq(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("dupClusters: phantom ids on a chain stay inert in the forced distributed rounds") {
    // docs 1-6; the chain 1-2-3 continues to 4-5 only through phantom
    // 99, and 6 touches nothing but phantom 100
    val d = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 99L), (99L, 4L), (4L, 5L),
      (100L, 6L)).toDF("id_a", "id_b")
    assert(forceDistributed(clusters(d, pairs)) ===
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("dupClusters: a 300-hop chain converges within 15 forced distributed rounds") {
    // one label-propagation round per hop would need ~300 rounds on
    // this diameter; the star alternation must land well inside 15
    val n = 300L
    val d = (1L to n).toDF("doc_id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = forceDistributed(clusters(d, chain, maxRounds = 15))
    assert(got.length === n.toInt)
    assert(got.forall(_._2 == 1L))
  }

  test("dupClusters: each forced distributed star round broadcasts its small-star mins") {
    // every round checkpoints canon(small ⋈ sMins ∪ sMins); with the
    // size-based auto-broadcast off, only the row-gated hint on the
    // join's copy of sMins can make that join a broadcast
    val d = (1L to 40L).toDF("doc_id")
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val probed = scala.collection.mutable.Buffer
      .empty[org.apache.spark.sql.execution.SparkPlan]
    graft.operators.Caches.planProbe.set(probed)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try forceDistributed(clusters(d, chain))
    finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      graft.operators.Caches.planProbe.remove()
    }
    val rounds = probed.filter(_.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.UnionExec]))
    assert(rounds.nonEmpty, "no star round was probed")
    rounds.foreach { p =>
      assert(p.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        s"star round planned without a broadcast join:\n$p")
    }
  }

  test("collapsedDupClusters ≡ uncollapsed dupClusters(minhashDedupPairs)") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    // seed exact duplicates (normalization variants) on top of the corpus
    val extra = Seq(
      (100001L, "The quick brown fox JUMPS over   the lazy dog tonight"),
      (100002L, "the quick brown fox jumps over the lazy dog tonight"),
      (100003L, "the   quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val all = d.select("doc_id", "text").unionByName(extra)
    def norm(df0: org.apache.spark.sql.DataFrame) =
      df0.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val collapsed = norm(Dedup.collapsedDupClusters(all, "doc_id", "text",
      threshold = 0.5))
    val plain = norm(Dedup.dupClusters(all, "doc_id",
      Dedup.minhashDedupPairs(all, "doc_id", "text", threshold = 0.5)))
    assert(collapsed === plain)
    // the seeded exact-dup family collapsed into one cluster
    assert(collapsed.filter(_._1 > 100000L).map(_._2).distinct.size === 1)
  }

  test("simhash hot-bucket cap: identical-fingerprint family stays linear") {
    val n = 300L
    val d = ((1L to n).map(i => i -> "identical template body words shared by every page") ++
      Seq((n + 1L) -> "completely different content about catalyst optimizer internals"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPortablePairs(d, "doc_id", "text",
        maxHamming = 3, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // star around min id, each pair emitted once (distinct union),
    // hamming 0 throughout; the singleton never pairs
    assert(pairs.length === (n - 1).toInt)
    assert(pairs.forall { case (a, _, h) => a == 1L && h == 0L })
  }

  test("simhash cap never drops a pair whose FIRST shared chunk is hot") {
    // fabricated fingerprints: ids 1-6 share c0=10 (so band-0 bucket 10
    // has 8 members > maxBucket=4 once the pair below joins it) but are
    // far from everything; the pair (7,8) shares that HOT band-0 bucket
    // AND a cold band-2 bucket (c2=77, 2 members), with hamming 2.
    // The old first-shared-chunk inequality suppressed (7,8) at band 2
    // because c0 was equal, and the star path couldn't save it (both
    // are > hamming 3 from the bucket rep, id 1) — the pair was lost.
    val fps = ((1L to 6L).map(i =>
      (i, 10L, 1L << (i + 20), 1L << (i + 30), 1L << (i + 40))) ++
      Seq((7L, 10L, 99L, 77L, 55L), (8L, 10L, 98L, 77L, 54L)))
      .toDF("id", "c0", "c1", "c2", "c3")
    val got = Dedup.simhashPairsFromChunks(fps, maxHamming = 3, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === got.distinct.length, "duplicate pair emissions")
    assert(got.toSet === Set((7L, 8L, 2L)),
      "the cold-band-2 pair must survive the hot band-0 bucket")
  }

  test("collapsedDupClusters: null-text docs stay singletons, like the uncollapsed form") {
    val d = Seq((1L, Some("alpha beta gamma delta epsilon")),
      (2L, Some("alpha beta gamma delta epsilon")),
      (3L, None), (4L, None))
      .toDF("doc_id", "text")
    def norm(df0: org.apache.spark.sql.DataFrame) =
      df0.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val collapsed = norm(Dedup.collapsedDupClusters(d, "doc_id", "text",
      threshold = 0.5))
    val plain = norm(Dedup.dupClusters(d, "doc_id",
      Dedup.minhashDedupPairs(d, "doc_id", "text", threshold = 0.5)))
    assert(collapsed === plain)
    assert(collapsed === Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("incremental minhash with hot-bucket cap keeps the new-endpoint contract") {
    val n = 500L
    val hot = (1L to n).map(i => i -> "identical template body text shared by every page in the crawl")
    val d = hot.toDF("doc_id", "text")
    val incr = Dedup.incrementalMinhashPairs(d, "doc_id", "text",
        newPred = col("doc_id") > 450L, threshold = 0.5, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star around rep id 1 (old), restricted to new endpoints
    assert(incr === (451L to n).map(i => (1L, i)).toSet)
  }

  test("winnowing guarantees a fingerprint in every window and stays deterministic") {
    val rnd = new scala.util.Random(3)
    val d = docs((1L to 10L).map(i =>
      i -> Seq.fill(30 + rnd.nextInt(40))(s"w${rnd.nextInt(200)}").mkString(" ")): _*)
    val (k, w) = (5, 4)
    val fp = Dedup.winnowFingerprints(d, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    d.collect().foreach { row =>
      val id = row.getLong(0)
      val n = row.getString(1).split(" ").length
      val nGrams = n - k + 1
      val sel = byDoc(id)
      // the winnowing guarantee: every full window holds a selection
      (1 to nGrams - w + 1).foreach { i =>
        assert((i until i + w).exists(p => sel.contains(p.toLong)),
          s"doc $id window $i has no fingerprint")
      }
      // density: ≤ one selection per window start
      assert(sel.size <= nGrams - w + 1)
    }
    // pure function of the text: a second run selects identically
    val fp2 = Dedup.winnowFingerprints(d, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fp.sorted.toSeq === fp2.sorted.toSeq)
  }

  test("winnowing: a doc past the 2^20-gram radix fails fast, not silently corrupts") {
    // positions past 2^20 would bleed into the hash lanes of the packed
    // (hash·radix + pos) long and corrupt the window-min selection —
    // the guard must raise, pointing at chunking, instead
    val big = Array.fill(1048590)("a").mkString(" ") // > 2^20 grams at k=5
    val d = docs(1L -> big)
    val e = intercept[Exception] {
      Dedup.winnowFingerprints(d, "doc_id", "text", 5, 4).collect()
    }
    assert(e.getMessage.contains("2^20"),
      s"expected the radix guard, got: ${e.getMessage.take(200)}")
  }

  test("winnowing: short docs still fingerprint and identical ones match") {
    val fp = Dedup.winnowFingerprints(
        docs(1L -> "tiny doc of seven little words here",  // 7 tokens < k+w-1
          2L -> "tiny doc of seven little words here",
          3L -> "only three words",                        // < k tokens
          4L -> "only three words"),
        "doc_id", "text", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1)
    assert(byDoc.keySet === Set(1L, 2L, 3L, 4L), "every doc fingerprints")
    assert(byDoc(1L).map(t => (t._2, t._3)).toSet ===
      byDoc(2L).map(t => (t._2, t._3)).toSet)
    assert(byDoc(3L).map(t => (t._2, t._3)).toSet ===
      byDoc(4L).map(t => (t._2, t._3)).toSet)
    // gram-poor docs clamp to one truncated window → exactly one print
    assert(byDoc(1L).length === 1 && byDoc(3L).length === 1)
  }

  test("winnowing: a shared 20-token block yields shared fingerprints") {
    val shared = (1 to 20).map(i => s"s$i")
    val a = ((1 to 15).map(i => s"a$i") ++ shared).mkString(" ")
    val b = (shared ++ (1 to 15).map(i => s"b$i")).mkString(" ")
    val fp = Dedup.winnowFingerprints(docs(1L -> a, 2L -> b),
        "doc_id", "text", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val h1 = fp.filter(_._1 == 1L).map(_._2).toSet
    val h2 = fp.filter(_._1 == 2L).map(_._2).toSet
    // guarantee: any shared substring of ≥ w+k-1 = 8 tokens shares a print
    assert((h1 & h2).nonEmpty)
  }

  test("dupSpans: repeated grams within a doc don't inflate the run") {
    // doc 1 repeats the same 6-token phrase twice, doc 2 has it once:
    // the longest shared span is the 6-token phrase, not a merged 12
    val phrase = Seq("p1", "p2", "p3", "p4", "p5", "p6")
    val a = (phrase ++ Seq("xa") ++ phrase).mkString(" ")
    val b = (phrase ++ (1 to 10).map(i => s"b$i")).mkString(" ")
    val out = Dedup.dupSpans(docs(1L -> a, 2L -> b),
        "doc_id", "text", k = 5, minSpan = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 6L)))
  }

  test("t27 novelty: first doc fully novel, ratios in [0,1], dups score 0-novel") {
    val rows = SparkEntry.queries("t27_novelty")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length === 500)
    // doc 0 sees every one of its shingles first
    assert(rows.find(_._1 == 0L).get._3 === 1.0)
    rows.foreach { case (_, n, nov) =>
      assert(n > 0 && nov >= 0.0 && nov <= 1.0)
    }
    // the corpus has near-duplicates, so somebody scores low
    assert(rows.map(_._3).min < 0.5)
  }

  test("d10 quality reps: one rep per cluster, kept ⇔ is-rep, rep maximizes quality") {
    import graft.functions.TextFns
    val rows = SparkEntry.queries("d10_quality_reps")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.length === 500)
    rows.foreach { case (doc, _, rep, kept) =>
      assert(kept === (if (doc == rep) 1 else 0))
    }
    // exactly one rep per cluster, and it is a cluster member
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._3).toSet.size === 1, s"cluster $cid: mixed reps")
      assert(members.map(_._1).contains(members.head._3))
    }
    // the rep's (4dp) quality is the cluster max
    val qual = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", TextFns.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    byCluster.values.foreach { members =>
      val repQ = qual(members.head._3)
      assert(members.forall(m => qual(m._1) <= repQ))
    }
  }

  test("scrubDupSpans cuts the later copy, merges overlaps, keeps the earliest") {
    val run = (0 until 25).map(i => s"r$i").mkString(" ") // 25-token run
    val docs = Seq(
      (1L, s"alpha beta $run gamma delta"),     // earliest: untouched
      (2L, s"pre1 pre2 pre3 $run post1 post2"), // later: run cut
      (3L, run),                                // exact full-doc dup: emptied
      (10L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")   // no long spans: absent
    ).toDF("doc_id", "text")
    val out = Dedup.scrubDupSpans(docs, "doc_id", "text",
        k = 5, minSpan = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 is the earliest occurrence everywhere — never scrubbed
    assert(!out.contains(1L) && !out.contains(10L))
    assert(out(2L) === ((1L, 25L, "pre1 pre2 pre3 post1 post2")))
    assert(out(3L) === ((1L, 25L, ""))) // fully duplicated → emptied
  }

  test("dupSpans hotDf cap: all-hot runs drop, a hot gram splits a run") {
    val run = (0 until 45).map(i => s"t$i").mkString(" ")
    val hotGram = (20 until 25).map(i => s"t$i").mkString(" ") // 1 gram
    val docs = (Seq(
      (1L, s"head1 $run tail1"),
      (2L, s"head2 $run tail2")) ++
      // 6 more docs holding ONLY the middle gram → its df = 8
      (10L to 15L).map(i => (i, hotGram))).toDF("doc_id", "text")
    def spans(hotDf: Int) = Dedup.dupSpans(docs, "doc_id", "text",
        k = 5, minSpan = 20, hotDf = hotDf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // uncapped: the full 45-token run
    assert(spans(Int.MaxValue) === Map((1L, 2L) -> 45L))
    // cap 6 < df 8: the one hot gram stops seeding, the run splits into
    // two 24-token stretches (islands [1..20] and [22..41] of the 41
    // grams, each + k - 1) — shortened, not lost
    assert(spans(6) === Map((1L, 2L) -> 24L))
    // a run made ENTIRELY of hot grams disappears under the cap
    val boiler = (0 until 8).map(i => (100L + i, run)).toDF("doc_id", "text")
    assert(Dedup.dupSpans(boiler, "doc_id", "text", k = 5, minSpan = 20,
      hotDf = 6).isEmpty)
    assert(Dedup.dupSpans(boiler, "doc_id", "text",
      k = 5, minSpan = 20).count() === 28) // uncapped: all C(8,2) pairs
  }

  test("scrubDupSpans merges overlapping cuts from different partners") {
    // doc 30 shares tokens 1-24 with doc 5 and tokens 5-28 with doc 6:
    // the two cuts overlap and must merge to ONE span of 28 tokens
    val w = (0 until 28).map(i => s"w$i")
    val docs = Seq(
      (5L, w.take(24).mkString(" ")),
      (6L, w.drop(4).mkString(" ")),
      (30L, w.mkString(" ") + " tail1 tail2")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubDupSpans(docs, "doc_id", "text",
        k = 5, minSpan = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(30L) === ((1L, 28L, "tail1 tail2")))
  }
}
