package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The LSH serve path's hot-bucket guard (Similarity.capServeBuckets,
  * applied inside lshSearch): a mass-duplicated embedding family — 1k
  * re-encodings of the same boilerplate — must not push |bucket|²
  * candidates through the bucket join of a corpus self-kNN, and honest
  * buckets must be byte-identical to the uncapped search. */
class LshHotBucketSpec extends SparkSuite {
  import spark.implicits._

  // 1000 identical vectors (the degenerate template family) + an honest
  // tail of distinct vectors that land in other buckets
  private val degenerate = (0L until 1000L).map(i => i -> Seq(1f, 1f, 0f, 0f))
  private val honest = Seq(
    2000L -> Seq(0f, 0f, 1f, 0f), 2001L -> Seq(0f, 0f, 0.9f, 0.1f),
    2002L -> Seq(0f, 0f, 0.8f, 0.3f), 2003L -> Seq(0f, 1f, -0.5f, 0f),
    2004L -> Seq(0f, 0.9f, -0.4f, 0.1f))
  private def fixture = (degenerate ++ honest).toDF("vec_id", "embedding")

  private def withCap[A](cap: Int)(body: => A): A = {
    spark.conf.set("spark.graft.lsh.maxServeBucket", cap.toString)
    try body finally spark.conf.unset("spark.graft.lsh.maxServeBucket")
  }

  test("capServeBuckets bounds every bucket and keeps the lowest ids") {
    val bucketed = ((0L until 1000L).map(i => (i, 1L)) ++
      (0L until 10L).map(i => (3000L + i, 2L)))
      .toDF("neighbor_id", "bucket")
    val capped = Similarity.capServeBuckets(bucketed, 32)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), max("neighbor_id").as("max_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // overflowed bucket: exactly 32 candidates, the 32 LOWEST ids (the
    // members cosineRank's tie-break would pick anyway)
    assert(capped(1L) === ((32L, 31L)))
    // honest bucket: untouched
    assert(capped(2L) === ((10L, 3009L)))
  }

  test("degenerate self-kNN is bounded AND returns the identical top-k") {
    val d = fixture
    // sanity: the guard is live — the degenerate family shares one bucket
    val bucketSizes = d.select(
        Similarity.lshBucket(col("embedding"), 4, 4).as("b"))
      .groupBy("b").count().collect().map(_.getLong(1))
    assert(bucketSizes.max >= 1000, "fixture must overflow one bucket")
    val uncapped = Similarity.lshTopK(d, d, "vec_id", "embedding", k = 3,
      numPlanes = 4, dim = 4).collect().map(_.toSeq).toSet
    val capped = withCap(32) {
      Similarity.lshTopK(d, d, "vec_id", "embedding", k = 3,
        numPlanes = 4, dim = 4).collect().map(_.toSeq).toSet
    }
    // identical vectors tie on sim, and cosineRank breaks ties by lowest
    // neighbor_id — exactly the members the cap keeps — so the capped
    // result is byte-identical even for queries INSIDE the hot bucket
    assert(capped === uncapped)
    // and every degenerate query resolved to the family's lowest ids
    val q999 = capped.filter(_.head == 999L).map(r => (r(1), r(3)))
    assert(q999 === Set((0L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("the overflowed bucket never sorts in one task (threshold agg, no bucket window)") {
    // the 100 TB posture: broadcasts off for corpus-sized sides, AQE off
    // so the static plan is inspectable. The cap must appear as the
    // partial bottom-k threshold aggregate + broadcast filter — NOT as a
    // window keyed on the bucket, whose sort funneled an overflowed
    // bucket's full population into one task before the rank filter.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = fixture
      val plan = Similarity.lshTopK(d, d, "vec_id", "embedding", k = 2,
        numPlanes = 4, dim = 4).queryExecution.executedPlan.toString()
      // the guard is live in this plan (default cap)...
      assert(plan.contains("bottomk_threshold"), plan.take(800))
      // ...as a partial-aggregated shape: map-side combine bounds what
      // the aggregate's exchange carries to <= cap ids per bucket per
      // partition
      assert("ObjectHashAggregate.*partial_bottomk_threshold".r
          .findFirstIn(plan).isDefined,
        "threshold must be a partial (map-side combined) aggregate:\n" +
          plan.take(1200))
      // NO window partitioned on the bucket key anywhere in the plan
      // (the per-query re-rank window keyed on query_id is expected)
      assert("windowspecdefinition\\(bucket".r.findFirstIn(plan).isEmpty,
        "bucket-keyed window found — the single-task sort is back:\n" +
          plan.take(1200))
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      // the wide corpus rows cross exactly one bucket exchange (the
      // candidate join's own); the only additional bucket exchange is
      // the threshold aggregate's, carrying bounded (bucket, heap)
      // partial states — ~8 bytes a row against the vector rows' ~KB
      val bucketExchanges =
        "Exchange hashpartitioning\\(bucket".r.findAllIn(plan).length
      assert(bucketExchanges <= 3,
        s"$bucketExchanges bucket exchanges — the corpus side is being " +
          "re-shuffled beyond the join + narrow threshold agg")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("non-integral ids cap through the same threshold agg — no window") {
    // no engine path produces string ids, but the inline tier accepts
    // them — the guard must CAP (ranked by xxhash64 of the id, a
    // deterministic total order), not silently disable because a
    // long-cast threshold nulled out, and not fall back to a
    // bucket-keyed window whose sort funnels the overflowed bucket's
    // full population into one task
    val bucketed = ((0L until 50L).map(i => (f"id$i%03d", 1L)) ++
      Seq(("z1", 2L))).toDF("neighbor_id", "bucket")
    def run() = Similarity.capServeBuckets(bucketed, 8)
    val counts = run().groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) === 8L, "overflowed string-id bucket capped exactly")
    assert(counts(2L) === 1L, "honest bucket untouched")
    // deterministic: the same 8 hash-lowest members every evaluation
    val kept = run().collect().map(_.getString(0)).toSet
    assert(kept === run().collect().map(_.getString(0)).toSet)
    // the round-10 single-task caveat is gone: the string-id plan shows
    // the partial bottom-k threshold aggregate and NO bucket window
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = run().queryExecution.executedPlan.toString()
      assert("ObjectHashAggregate.*partial_bottomk_threshold".r
          .findFirstIn(plan).isDefined, plan.take(1200))
      assert("windowspecdefinition\\(bucket".r.findFirstIn(plan).isEmpty,
        "bucket-keyed window found on the string-id path:\n" +
          plan.take(1200))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("duplicate and NULL ids stay bounded, never silently dropped") {
    // inline-tier arbitrary frames: duplicated ids keep every duplicate
    // of a kept id (bound = cap x multiplicity, documented), and NULL
    // ids sort lowest — capped like any member, not nulled out of the
    // filter. 40 distinct ids x 3 duplicates + 2 NULLs in one bucket.
    val rows = (0L until 40L).flatMap(i =>
      Seq.fill(3)((java.lang.Long.valueOf(i), 1L))) ++
      Seq((null.asInstanceOf[java.lang.Long], 1L),
        (null.asInstanceOf[java.lang.Long], 1L))
    val bucketed = rows.toDF("neighbor_id", "bucket")
    val kept = Similarity.capServeBuckets(bucketed, 8).collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    // NULLs rank below id 0: both kept; remaining budget fills with the
    // lowest ids, each carrying its full multiplicity
    assert(kept.count(_ == -1L) === 2, "NULL ids must survive the cap")
    assert(kept.length <= 8 * 3, "bounded by cap x multiplicity")
    assert(kept.toSet.subsetOf(Set(-1L, 0L, 1L, 2L, 3L, 4L, 5L, 6L)),
      s"kept must be the lowest keys, got ${kept.toSet}")
  }

  test("NULL string ids sort lowest on the hashed branch too") {
    // xxhash64 of a NULL input returns the SEED (a mid-range signed-64
    // value), not NULL — without the explicit isNull branch a NULL
    // string id would be capped at a hash-arbitrary rank instead of the
    // documented lowest-key position. 50 string ids + 2 NULLs, cap 8:
    // both NULLs must be among the kept.
    val rows = (0L until 50L).map(i => (f"id$i%03d": String, 1L)) ++
      Seq((null.asInstanceOf[String], 1L), (null.asInstanceOf[String], 1L))
    val bucketed = rows.toDF("neighbor_id", "bucket")
    val kept = Similarity.capServeBuckets(bucketed, 8).collect()
      .map(r => Option(r.getString(0)))
    assert(kept.count(_.isEmpty) === 2,
      "NULL string ids must survive the cap as the lowest keys")
    assert(kept.length === 8, "cap exact — 2 NULLs + 6 hash-lowest ids")
  }

  test("autoPlanes pins expected bucket population; lshTopKAuto ≡ lshTopK at the derived count") {
    import Similarity.autoPlanes
    // ceil(log2(corpus / target)), clamped: the plane count that keeps
    // the EXPECTED bucket population at targetBucket no matter the
    // corpus size — a fixed count is quadratic-until-cap in the corpus
    // (the ~sf1 -> ~sf3 leg measured the pinned-6-plane config at
    // exponent 2.7; SCALING.md leg 3)
    assert(autoPlanes(100, 256) === 1, "sub-target corpora stay at 1 plane")
    assert(autoPlanes(2560, 256) === 4) // 10 buckets -> 2^4
    assert(autoPlanes(1000000, 256) === 12) // 3907 buckets -> 2^12
    assert(autoPlanes(Long.MaxValue, 1) === 24, "clamped")
    // 10x the corpus adds ~log2(10) ~ 3-4 planes: bucket population,
    // and with it per-vector candidate work, stays ~constant
    assert(autoPlanes(200000, 256) - autoPlanes(20000, 256) >= 3)
    // the auto path is exactly the fixed path at the derived counts —
    // note autoBuckets(300, 64) = 5, a NON-power-of-2, so this also
    // pins that the auto tier runs the mod-B fold, not the pure space
    val rng = new scala.util.Random(7)
    val vecs = (0L until 300L).map(i =>
      i -> Seq.fill(8)(rng.nextFloat() * 2f - 1f)).toDF("vec_id", "embedding")
    val p = autoPlanes(300, 64)
    val b = Similarity.autoBuckets(300, 64)
    assert(b === 5L)
    val auto = Similarity.lshTopKAuto(vecs, vecs, "vec_id", "embedding",
      k = 2, dim = 8, targetBucket = 64).collect().map(_.toSeq).toSet
    val fixed = Similarity.lshTopK(vecs, vecs, "vec_id", "embedding",
      k = 2, numPlanes = p, dim = 8, numBuckets = b)
      .collect().map(_.toSeq).toSet
    assert(auto === fixed)
    val pure = Similarity.lshTopK(vecs, vecs, "vec_id", "embedding",
      k = 2, numPlanes = p, dim = 8).collect().map(_.toSeq).toSet
    assert(auto !== pure,
      "the non-power-of-2 fold must actually change the bucket space " +
        "on this fixture — identical results mean the fold is a no-op")
  }

  test("mod-B fold: population pinned exactly; candidates a superset of the pure space") {
    import Similarity.autoBuckets
    // ceil(n/target) buckets for ANY n — no power-of-2 rounding, so the
    // expected population is target exactly and a 3x corpus step can
    // never measure the x1.5 population wobble the pure 2^p space has
    // (leg 3 caught plain autoPlanes at exponent 1.8 on exactly such a
    // step; with the fold the only growth beyond linear is the +1-probe
    // log factor)
    assert(autoBuckets(300, 64) === 5L)
    assert(autoBuckets(20000, 128) === 157L)
    assert(autoBuckets(60000, 128) === 469L)
    assert(autoBuckets(1, 128) === 1L)
    // candidate-superset: signature equality implies fold equality, so
    // every pure-space candidate survives folding — per (query, rank)
    // the folded top-k sim can never be LOWER than the pure top-k sim
    val rng = new scala.util.Random(13)
    val vecs = (0L until 400L).map(i =>
      i -> Seq.fill(8)(rng.nextFloat() * 2f - 1f)).toDF("vec_id", "embedding")
    def top1(numBuckets: Long) =
      Similarity.lshTopK(vecs, vecs, "vec_id", "embedding", k = 1,
          numPlanes = 4, dim = 8, numBuckets = numBuckets)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pure = top1(0L)
    val folded = top1(13L) // 16 cells folded into 13 buckets
    assert(pure.keySet.subsetOf(folded.keySet),
      "folding dropped a query that had a pure-space neighbor")
    val worse = pure.filter { case (q, s) => folded(q) < s - 1e-9 }
    assert(worse.isEmpty,
      s"folded rank-1 sim dropped below pure for ${worse.take(3)}")
    assert(folded.size >= pure.size)
  }

  test("hyperplanes(p) is a prefix of hyperplanes(24) — the oracle's gated-master replay is sound") {
    // PipelineQueries' ANN oracles embed the 24-plane master as SQL
    // literals and gate plane i on `i < p` (p SQL-derived from
    // count(*)). That replay equals the Spark side's hyperplanes(p)
    // ONLY because the splitmix64 stream fills planes sequentially —
    // plane i's 64 dims occupy stream positions [64i, 64i+64) whatever
    // the requested count. Pin it for every p the clamp allows.
    val master = Similarity.hyperplanes(numPlanes = 24, dim = 64, seed = 42L)
    for (p <- 1 to 24) {
      val sub = Similarity.hyperplanes(numPlanes = p, dim = 64, seed = 42L)
      assert(sub.length === p)
      for (i <- 0 until p)
        assert(sub(i).sameElements(master(i)), s"plane $i diverges at p=$p")
    }
  }

  test("autoPlanes/autoBuckets ≡ the oracles' SQL np formula") {
    // The `np` CTE computes b = GREATEST(1, (n + 127) // 128) and
    // p = LEAST(24, GREATEST(1, length(bin(GREATEST(1, b - 1))))).
    // bin()'s string length is Long.toBinaryString's length; pin the
    // integer twins against autoPlanes/autoBuckets across the edges a
    // float log2 would miss.
    def sqlB(n: Long): Long = math.max(1L, (n + 127L) / 128L)
    def sqlNp(n: Long): Int = {
      val bucketsM1 = math.max(1L, sqlB(n) - 1L)
      math.min(24, math.max(1, java.lang.Long.toBinaryString(bucketsM1).length))
    }
    val edges = Seq(1L, 255L, 256L, 257L, 511L, 512L, 513L, 4096L,
      65535L, 65536L, 65537L, 1L << 30, 123456789L, 1L << 40)
    val rng = new scala.util.Random(11)
    val fuzz = Seq.fill(500)(math.abs(rng.nextLong()) % (1L << 44) + 1L)
    for (n <- edges ++ fuzz) {
      assert(Similarity.autoPlanes(n, 128) === sqlNp(n), s"n=$n")
      assert(Similarity.autoBuckets(n, 128) === sqlB(n), s"n=$n")
    }
  }

  test("bottomk_threshold: k-th lowest id for overflowed groups, NULL otherwise") {
    import graft.functions.BottomKThresholdAgg.bottomKThreshold
    // 1000-member group (threshold = 32nd lowest = 31 for ids 0..999),
    // exactly-at-cap group (NULL), and an under-cap group (NULL) — over
    // many partitions so map-side partial states genuinely merge
    val rows = ((0L until 1000L).map(i => (1L, i)) ++
      (0L until 32L).map(i => (2L, 5000L + i)) ++
      Seq((3L, 7L))).toDF("bucket", "neighbor_id").repartition(13)
    val out = rows.groupBy("bucket")
      .agg(bottomKThreshold(col("neighbor_id"), 32).as("thr"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L) === Some(31L))
    assert(out(2L) === None, "exactly at cap: untouched marker")
    assert(out(3L) === None)
  }

  test("honest buckets are untouched by a cap that bites elsewhere") {
    val d = fixture
    val honestIds = honest.map(_._1).toSet
    val uncapped = Similarity.lshTopK(d, d, "vec_id", "embedding", k = 2,
      numPlanes = 4, dim = 4)
      .filter(col("query_id").isin(honestIds.toSeq: _*))
      .collect().map(_.toSeq).toSet
    val capped = withCap(8) {
      Similarity.lshTopK(d, d, "vec_id", "embedding", k = 2,
        numPlanes = 4, dim = 4)
        .filter(col("query_id").isin(honestIds.toSeq: _*))
        .collect().map(_.toSeq).toSet
    }
    assert(capped === uncapped)
  }
}
