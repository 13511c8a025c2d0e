package graft.operators

import graft.operators.Caches.EagerOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  * Two tiers, as a 100 TB pipeline needs:
  *  - [[bruteForceTopK]]: exact cosine top-k of a (small, broadcast)
  *    query set against the corpus — the correctness baseline and the
  *    re-rank stage of any ANN pipeline;
  *  - [[lshTopK]]: random-hyperplane LSH — corpus and queries are
  *    bucketed by sign-bit signature, candidates come from an equi-join
  *    on bucket keys (shuffle bounded by bucket sizes, never |Q|·|N|),
  *    then exact cosine re-ranks within buckets.
  *
  * All math is native expressions over double-cast arrays (zip_with +
  * aggregate), no UDFs; hyperplanes are seeded, literal-encoded vectors
  * so every executor evaluates the identical signature function.
  */
object Similarity {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product of two array<double|float> columns (left-fold,
    * deterministic summation order) — the native codegen expression
    * ([[graft.functions.DotExpr]]); bit-identical to the composed
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` on double arrays
    * (asserted in DotExprSpec; float inputs are widened to double
    * before the multiply, unlike the raw HOF), several times cheaper on
    * the candidate-scoring hot path.
    *
    * CONTRACT: inputs must be ARRAY<FLOAT|DOUBLE> — analysis-time
    * checked. Other numeric arrays (the pre-DotExpr HOF accepted e.g.
    * array<int> silently) must be widened first: `dot(asDouble(c), …)`
    * / `transform(c, _.cast("double"))`. Every engine call site
    * already routes through [[asDouble]]. */
  def dot(a: Column, b: Column): Column = graft.functions.DotExpr(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two embedding columns (float arrays ok). */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a)
    val bd = asDouble(b)
    dot(ad, bd) / nullif(l2Norm(ad) * l2Norm(bd), lit(0.0))
  }

  /** Exact top-k: broadcast the query set, score every corpus row,
    * rank per query. The window partitions by query id, so ranking is a
    * per-query shuffle — no global sort. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms precomputed per ROW (|N|+|Q| norm passes), so each of the
    // |N|·|Q| scored pairs pays one dot product, not three; corpus
    // spread so the |N|·|Q| dot products use every core, not one split
    val scored = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"))
      .crossJoin(broadcast(
        queries.select(col(idCol).as("query_id"),
          asDouble(col(vecCol)).as("qv"), l2Norm(asDouble(col(vecCol))).as("qn"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qv"), col("v")) /
        nullif(col("qn") * col("vn"), lit(0.0)))
    cosineRank(scored, k)
  }

  /** Attribute-constrained (filtered) exact kNN: top-k cosine neighbors
    * restricted to corpus rows whose `attrCol` EQUALS the query's — the
    * "filtered vector search" every retrieval deployment needs
    * (per-tenant, per-language, per-label retrieval). The constraint is
    * an equi-JOIN KEY, not a post-filter: candidates co-partition by
    * attribute, so a query never scores (or shuffles) a vector outside
    * its slice — at corpus scale the cost is Σ_a |slice_a|·|queries_a|,
    * not |corpus|·|queries|, and recall is exact BY CONSTRUCTION
    * (post-filtering an unfiltered ANN top-k under-fills the result
    * list; this cannot). Queries stay broadcast (bounded set); norms are
    * precomputed per row as in [[bruteForceTopK]]. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, attrCol: String, k: Int): DataFrame = {
    val scored = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"), col(attrCol).as("__attr"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"))
      .join(broadcast(
          queries.select(col(idCol).as("query_id"), col(attrCol).as("__attr"),
            asDouble(col(vecCol)).as("qv"),
            l2Norm(asDouble(col(vecCol))).as("qn"))),
        Seq("__attr"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qv"), col("v")) /
        nullif(col("qn") * col("vn"), lit(0.0)))
    cosineRank(scored, k)
  }

  /** Scalar-quantization (SQ8) ANN — the fourth classic compression
    * path beside LSH/IVF/PQ: every vector element is quantized to one
    * of `levels`+1 codes on a single GLOBAL [lo, hi] range (one min/max
    * aggregate over all elements — map-side combined to two doubles,
    * broadcast back), and similarity is exact cosine in the DEQUANTIZED
    * domain. At corpus scale the int codes are what's materialized
    * (1 byte/dim = 4× less scan IO than float32; the same
    * build-once/serve-many shape as [[buildPqIndex]]) and (lo, hi) ride
    * in index metadata; this inline form quantizes on the fly so the
    * oracle can replay every arithmetic step. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, levels: Int = 255): DataFrame = {
    val range = corpus
      .select(explode(asDouble(col(vecCol))).as("x"))
      .agg(min("x").as("lo"), max("x").as("hi"))
    def sq(v: Column): Column = transform(v, x =>
      col("lo") + round((x - col("lo")) /
        nullif(col("hi") - col("lo"), lit(0.0)) * levels) *
        (col("hi") - col("lo")) / levels)
    val cq = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(range))
      .select(col("neighbor_id"), sq(col("v")).as("dv"))
      .withColumn("dvn", l2Norm(col("dv")))
    val qq = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .crossJoin(broadcast(range))
      .select(col("query_id"), sq(col("qv")).as("dqv"))
      .withColumn("dqn", l2Norm(col("dqv")))
    val scored = cq.crossJoin(broadcast(qq))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("dqv"), col("dv")) /
        nullif(col("dqn") * col("dvn"), lit(0.0)))
    cosineRank(scored, k)
  }

  /** THE exact-cosine output contract shared by every similarity
    * ranker (brute force, LSH, IVF, PQ re-rank): per-query row_number
    * over (sim desc, neighbor_id), top k, 4dp sim, long rank. One
    * definition so the tie-break and output shape can never fork. */
  private def cosineRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic random hyperplanes: `planes(p)(d)` ∈ {-1,+1} from a
    * seeded xorshift-free LCG — literal-encoded, identical on every
    * executor and across runs. */
  private[graft] def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    var state = seed
    def next(): Long = { // splitmix64
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(numPlanes, dim)(if (next() >= 0) 1.0 else -1.0)
  }

  /** Sign-bit LSH signature: one bucket key per (table-id) from
    * `numPlanes` hyperplane sign bits. */
  def lshBucket(vecCol: Column, numPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    // the key is a SUM of 2^i sign bits packed into one long — past 64
    // planes the 1L << i shifts wrap, bit sums carry, and the key
    // silently stops being a sign signature (same guard as signPack)
    require(numPlanes >= 1 && numPlanes <= 64,
      s"lshBucket: numPlanes ($numPlanes) must be in 1..64")
    val planes = hyperplanes(numPlanes, dim, seed)
    val v = asDouble(vecCol)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit(_)): _*)
      when(dot(v, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** ANN top-k via LSH buckets with multi-probe: each query probes its
    * own bucket plus every 1-bit-flipped bucket (numPlanes+1 probes), so
    * near neighbors that disagree on a single hyperplane are still
    * candidates — the standard multi-probe recall fix (Lv et al.,
    * VLDB'07). Only the (small) query side fans out; the corpus is
    * bucketed once and the candidate join stays an equi-join on the
    * bucket key, bounded by bucket sizes, never |Q|·|N|. Exact cosine
    * re-ranks within candidates. Recall tunable by numPlanes (fewer
    * planes → bigger buckets → higher recall, more compute).
    *
    * ID CONTRACT: `idCol` must be UNIQUE per row in both frames — the
    * same one-row-per-id contract every index build enforces
    * (requireIntegralId). Under it each (query, neighbor) pair meets
    * at most once, so this inline path skips the (query, neighbor)
    * max-dedup the served path performs (append epochs can re-add an
    * id there). A frame with duplicated ids therefore ranks each copy
    * separately. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      numPlanes: Int = 8, dim: Int = 64, seed: Long = 42L,
      excludeSelf: Boolean = true, numBuckets: Long = 0L): DataFrame =
    lshSearch(
      lshBucketed(corpus, idCol, vecCol, numPlanes, dim, seed, numBuckets),
      lshProbes(queries, idCol, vecCol, numPlanes, dim, seed, numBuckets), k,
      excludeSelf)

  /** Plane count for a TARGET expected bucket population: ceil(log2(
    * corpusRows / targetBucket)), clamped to [1, 24]. A FIXED plane
    * count is a per-corpus tuning constant, not a scale posture: with
    * p planes the bucket space is 2^p, so bucket population — and with
    * it the self-join candidate count per vector — grows LINEARLY with
    * the corpus, which makes the candidate total QUADRATIC until the
    * hot-bucket cap truncates it (measured on the generated scaling
    * legs: the fixed-6-plane v23 config ran exponent 2.7 from ~sf1 to
    * ~sf3, exactly n²/2^p). Growing planes with log(corpus) pins the
    * expected bucket population at `targetBucket`, so candidates stay
    * ~n·targetBucket·(planes+2) — linear with a log factor from the
    * multi-probe fanout. The recall trade: more planes split true
    * neighbors across buckets more often; the 1-bit multi-probe
    * recovers single-plane disagreements, and the in-engine recall
    * gates (v08/v13-style) stay the measurement tool. */
  def autoPlanes(corpusRows: Long, targetBucket: Int = 128): Int = {
    require(targetBucket >= 1, s"targetBucket ($targetBucket) must be >= 1")
    val buckets = autoBuckets(corpusRows, targetBucket)
    val p = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, buckets - 1))
    math.min(24, math.max(1, p))
  }

  /** Bucket count for a TARGET expected population: ceil(n / target),
    * NOT rounded to a power of two. [[autoPlanes]] alone pins the
    * population only up to a factor of 2 — the signature space is
    * 2^p, so population oscillates in [target/2, target] as the corpus
    * grows, and a single ~3x scaling step that straddles a plane
    * increment measures population x1.5 AND probes x(p+2)/(p+1) at
    * once (the generated leg 3 measured the plain autoPlanes self-kNN
    * at exponent 1.8 on exactly such a step). Folding the signature
    * `sig mod B` with B = autoBuckets(n) pins the EXPECTED population
    * at target for ANY n: candidate work per query is ~target x
    * (planes+1), growing only by the +1-probe log factor (~1.1
    * exponent on a 3x step, for any step). Recall can only improve at
    * equal planes: signature equality implies fold equality, so every
    * pure-2^p candidate pair survives folding (the fold merges cells,
    * never splits them), and the 1-bit multi-probe flips fold the same
    * way on both sides. Pass as `numBuckets` to the LSH entry points
    * (0 keeps the pure 2^p space — the pinned-contract/index tier). */
  def autoBuckets(corpusRows: Long, targetBucket: Int = 128): Long = {
    require(targetBucket >= 1, s"targetBucket ($targetBucket) must be >= 1")
    math.max(1L, (corpusRows + targetBucket - 1) / targetBucket)
  }

  /** [[lshTopK]] with the plane count derived from the CORPUS SIZE
    * ([[autoPlanes]]) — the scale-safe default when no pinned-plane
    * contract (an oracled replay, a frozen index) forces a constant.
    * Costs one count job over the corpus; pass `corpusRows` if the
    * caller already has it. */
  def lshTopKAuto(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      dim: Int = 64, seed: Long = 42L, targetBucket: Int = 128,
      excludeSelf: Boolean = true, corpusRows: Long = -1L): DataFrame = {
    val n = if (corpusRows >= 0) corpusRows else corpus.count()
    lshTopK(corpus, queries, idCol, vecCol, k,
      numPlanes = autoPlanes(n, targetBucket), dim = dim, seed = seed,
      excludeSelf = excludeSelf, numBuckets = autoBuckets(n, targetBucket))
  }

  /** The bucketed-corpus side of the LSH tier: (neighbor_id, v, vn,
    * bucket) — what [[buildLshIndex]] persists and [[lshTopK]] computes
    * inline. */
  private def lshBucketed(corpus: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dim: Int, seed: Long,
      numBuckets: Long = 0L): DataFrame =
    Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"),
        foldBucket(lshBucket(col(vecCol), numPlanes, dim, seed), numBuckets)
          .as("bucket"))

  /** [[autoBuckets]] signature fold: `sig mod B` (sig is a sum of
    * non-negative 2^i bits, so plain % never goes negative); 0 = no
    * fold (the pure 2^p space). */
  private def foldBucket(sig: Column, numBuckets: Long): Column =
    if (numBuckets > 0L) sig % lit(numBuckets) else sig

  /** The multi-probe query side: each query fans out to its own bucket
    * plus every 1-bit-flip — (query_id, qv, qn, bucket), |Q|·(planes+1)
    * rows. spreadByKey matters on BOTH sides of the candidate join:
    * whichever side the optimizer streams pipelines the per-candidate
    * exact-cosine scoring, and a query set arriving as one scan split
    * (small file, byte-based splits) would run that whole scoring pass
    * single-threaded — measured 4.1 s single-task vs 0.5 s across 32
    * for a corpus self-kNN whose build-side choice flipped. At corpus
    * scale the scan is already parallel and the spread skips itself. */
  private def lshProbes(queries: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dim: Int, seed: Long,
      numBuckets: Long = 0L): DataFrame = {
    val probeOffsets = lit(0L) +: (0 until numPlanes).map(i => lit(1L << i))
    Caches.spreadByKey(queries, col(idCol)).select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"), l2Norm(asDouble(col(vecCol))).as("qn"),
        lshBucket(col(vecCol), numPlanes, dim, seed).as("bucket0"))
      // fold INSIDE the distinct: two flips can land in the same folded
      // bucket — probing it twice would double-score its candidates
      .withColumn("bucket",
        explode(array_distinct(transform(array(probeOffsets: _*),
          m => foldBucket(col("bucket0").bitwiseXOR(m), numBuckets)))))
      .drop("bucket0")
  }

  /** Default per-bucket corpus-side population cap for the LSH serve
    * path — the [[graft.operators.Dedup.DefaultMaxBucket]] discipline
    * applied to top-k search. Override with
    * `spark.graft.lsh.maxServeBucket`. 4096 is far above any honest
    * sign-LSH bucket (so small-scale results are byte-identical to the
    * uncapped search) while bounding a degenerate bucket's candidate
    * contribution per probe at 4096 rows instead of the |bucket| that a
    * mass-duplicated embedding family (re-encoded boilerplate — exactly
    * what web corpora contain) would otherwise push through the join:
    * for a corpus self-kNN that is |bucket|² candidates, the quadratic
    * blowup the cap exists to prevent. */
  val DefaultMaxServeBucket: Int = 4096

  /** The hot-bucket guard behind [[lshSearch]]: buckets at or under
    * `maxBucket` pass through untouched; above it only the bucket's
    * `maxBucket` LOWEST-id members stay candidates.
    *
    * HOW, scale-safely: a per-partition partial bottom-k
    * ([[graft.functions.BottomKThresholdAgg]]) computes each
    * overflowed bucket's `maxBucket`-th lowest id — map-side combine
    * ships at most `maxBucket` longs per bucket per partition, and the
    * merged threshold table holds ONLY overflowed buckets (at-or-under
    * -cap buckets aggregate to NULL and are filtered out), so it is
    * tiny by construction (≤ one row per bucket) and broadcast. The
    * corpus then keeps rows with `id <= threshold` — with unique ids
    * exactly the `maxBucket` lowest. No window, no sort: the earlier
    * formulation's `row_number` over the bucket key sorted an
    * overflowed bucket's FULL population in one task (a 10⁸-member
    * template family = a single-task O(N log N) sort before the
    * filter); here that population only ever feeds a bounded heap per
    * scan partition. The wide corpus rows cross no extra exchange —
    * the aggregate's exchange carries (bucket, ≤maxBucket ids) partial
    * states, ~8 bytes a row against the ~KB vector rows of the join
    * shuffle downstream (LshHotBucketSpec pins the plan shape).
    *
    * The recall trade, precisely: a corpus vector is bucketed exactly
    * once (multi-probe fans out the QUERY side only), so a member
    * dropped here is unreachable by any probe — recall loss is confined
    * to overflowed buckets. Those are near-identical template families
    * in practice (that is WHY they overflowed), where any kept member
    * is an equally-good neighbor; and because [[cosineRank]] breaks sim
    * ties by LOWEST neighbor_id, a fully-degenerate bucket (identical
    * vectors) returns the IDENTICAL top-k capped or not for any
    * k ≤ maxBucket — the kept lowest-id members are the ones the
    * tie-break would have chosen anyway (LshHotBucketSpec pins both
    * properties). Corpora where the residual matters should raise the
    * conf, not disable the guard.
    *
    * Id preconditions, exactly: the cap is EXACT (kept == maxBucket)
    * when ids are unique within a bucket — true on every engine path
    * (requireIntegralId at index build; a corpus vector is bucketed
    * exactly once per id). Duplicated ids (reachable only from the
    * inline tier on arbitrary user frames) widen the kept set to "all
    * rows whose cap key <= the k-th lowest key" — every duplicate of
    * a kept id survives, so the bound loosens to maxBucket x the max
    * duplicate multiplicity: still bounded, never the uncapped
    * population. NULL ids sort as the LOWEST key on both branches
    * (integral: Long.MinValue sentinel; hashed: xxhash64's
    * null-as-seed), so they are capped like any member rather than
    * silently dropped by a null comparison. */
  private[graft] def capServeBuckets(bucketed: DataFrame,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxServeBucket ($maxBucket) must be >= 1")
    // Int.MaxValue = explicit off-switch: no bucket can exceed it, so
    // skip the threshold scan entirely instead of paying a provably
    // no-op aggregation
    if (maxBucket == Int.MaxValue) return bucketed
    // every ENGINE path carries integral ids (requireIntegralId at
    // index build, long vec_ids inline) and ranks by the id itself —
    // the lowest-id members are exactly the ones cosineRank's tie-break
    // would pick. The inline tier accepts ANY id type: those rank by
    // xxhash64 of the string form — a deterministic total order over
    // arbitrary ids (which members of an overflowed bucket survive is
    // a recall heuristic, not a contract) that keeps the bounded-heap
    // formulation for every id type. The earlier ranked-window fallback
    // for non-integral ids sorted an overflowed bucket's full
    // population in one task — the exact failure mode this guard
    // exists to prevent.
    val idType = bucketed.schema("neighbor_id").dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.ShortType
    val key =
      if (integral)
        coalesce(col("neighbor_id").cast("long"), lit(Long.MinValue))
      // xxhash64 of a NULL input returns the SEED (42) — a mid-range
      // key, not a null — so the lowest-key promise needs the explicit
      // NULL branch here, mirroring the integral sentinel
      else when(col("neighbor_id").isNull, lit(Long.MinValue))
        .otherwise(xxhash64(col("neighbor_id").cast("string")))
    val thresholds = bucketed.groupBy("bucket")
      .agg(graft.functions.BottomKThresholdAgg
        .bottomKThreshold(key, maxBucket).as("__thr"))
      .filter(col("__thr").isNotNull)
    bucketed.join(broadcast(thresholds), Seq("bucket"), "left_outer")
      .filter(col("__thr").isNull || key <= col("__thr"))
      // restore the caller's column order (the using-join moved the
      // bucket key first)
      .select(bucketed.columns.map(col): _*)
  }

  /** Candidate join + exact-cosine re-rank shared by the inline and
    * served LSH paths — one definition so serve ≡ inline can't fork
    * (and so the [[capServeBuckets]] hot-bucket guard covers both). */
  private def lshSearch(rawBucketed: DataFrame, probes: DataFrame,
      k: Int, excludeSelf: Boolean = true,
      forceDedup: Boolean = false): DataFrame = {
    val maxBucket = scala.util.Try(rawBucketed.sparkSession.conf
      .get("spark.graft.lsh.maxServeBucket", DefaultMaxServeBucket.toString)
      .toInt).getOrElse(DefaultMaxServeBucket)
    val bucketed = capServeBuckets(rawBucketed, maxBucket)
    // sim BEFORE the multi-probe dedup: a candidate reached through two
    // probe buckets pays one redundant 64-mult dot (rare, cheap) so the
    // dedup exchange carries (query, neighbor, sim) — 24 bytes — instead
    // of both raw vectors (~1 KB; measured 12.3 s → 7.6 s cold / 4.9 s
    // steady on the sf0.1 all-vectors self-kNN). sim is a pure function
    // of the pair, so max() over duplicates is exact, not a tie-break.
    // excludeSelf=false is the CROSS-corpus mode ([[marginMining]]):
    // when query and corpus ids come from different namespaces, an
    // equal-id pair is a coincidence, not a self-match — dropping it
    // would silently discard the diagonal of a parallel corpus.
    val met = bucketed.join(probes, "bucket")
    val candidates =
      if (excludeSelf) met.filter(col("query_id") =!= col("neighbor_id"))
      else met
    val scoredRaw = candidates
      .withColumn("sim", dot(col("qv"), col("v")) /
        nullif(col("qn") * col("vn"), lit(0.0)))
      .select("query_id", "neighbor_id", "sim")
    // the (query, neighbor) max-dedup exists ONLY for frames that can
    // surface a pair twice. The inline tier with unique ids can't: a
    // corpus vector is bucketed exactly once and the probe buckets are
    // distinct (array_distinct AFTER the fold), so each pair meets at
    // most once — there the agg is a full exchange + two hash passes
    // over the candidate set that combine NOTHING (measured at the
    // generated ~sf3 leg: 29.8 s -> 16.7 s for the v23 self-kNN when
    // dropped — ~100M rows of hash-table pressure for zero merges).
    // So: the SERVED path forces it (append epochs can re-add an id,
    // and the merge-on-read union then carries that id twice — the
    // serve doc relies on this collapse); the inline tier skips it
    // under the same id contract every index build enforces
    // (requireIntegralId / one-row-per-id).
    val scored =
      if (forceDedup)
        scoredRaw.groupBy("query_id", "neighbor_id").agg(max("sim").as("sim"))
      else scoredRaw
    cosineRank(scored, k)
  }

  /** The LSH index's growable table: the bucketed corpus PARTITIONED
    * BY bucket, so serving scans only the probed bucket= directories. */
  private val LshBucketed = IndexStore.Table("bucketed",
    Some("neighbor_id"), Some("bucket"))

  /** Materialize the LSH index: meta freezing (num_planes, dim, seed) —
    * serve and append must replay the IDENTICAL hyperplanes — plus the
    * bucketed corpus. Partition count is ≤ 2^numPlanes; keep numPlanes
    * modest (≤ ~12) or the directory fan-out outgrows the filesystem's
    * comfort. Unlike IVF/PQ there is no data-dependent yardstick: the
    * hyperplanes are seed-determined, so [[appendToLshIndex]] is ALWAYS
    * exactly equivalent to a one-shot build (LshIndexSpec asserts it). */
  def buildLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, numPlanes: Int = 8, dim: Int = 64,
      seed: Long = 42L): Unit = {
    requireIntegralId(corpus, idCol, "buildLshIndex")
    IndexStore.create(corpus.sparkSession, indexDir, IndexStore.Meta("lsh",
      Map("num_planes" -> numPlanes.toLong, "dim" -> dim.toLong,
        "seed" -> seed), Seq(LshBucketed)))
    IndexStore.write(lshBucketed(corpus, idCol, vecCol, numPlanes, dim, seed)
        .withColumn("neighbor_id", col("neighbor_id").cast("long")),
      indexDir, LshBucketed, "overwrite")
  }

  /** The materialized index tiers store ids as LONG (the delta epochs
    * are read back with that explicit schema, and the tombstone
    * protocol keys on numeric ids) — refuse non-integral id columns at
    * build/append time instead of corrupting the first delta read. */
  private def requireIntegralId(df: DataFrame, idCol: String,
      op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.ShortType,
      s"$op: id column '$idCol' is ${dt.simpleString}; the materialized " +
        "index stores LONG ids — surrogate-key string ids first")
  }

  /** Append NEW vectors to a materialized LSH index: bucket them with
    * the frozen hyperplanes and land them in their bucket= partitions.
    * No drift caveat — the index state equals a one-shot build over the
    * union, always. */
  def appendToLshIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, newVecs: DataFrame, idCol: String,
      vecCol: String): Unit =
    IndexStore.write(bucketWithFrozenMeta(spark, indexDir, newVecs, idCol,
      vecCol), indexDir, LshBucketed, "append")

  /** Bucket vectors with an EXISTING index's frozen (num_planes, dim,
    * seed) — the shared step behind [[appendToLshIndex]] and the
    * streaming delta writer ([[graft.streaming.StreamIndexAppend]]). */
  private[graft] def bucketWithFrozenMeta(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      newVecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    requireIntegralId(newVecs, idCol, "appendToLshIndex")
    val m = IndexStore.meta(spark, indexDir)
    lshBucketed(newVecs, idCol, vecCol,
        m.int("num_planes"), m.int("dim"), m.params("seed"))
      .withColumn("neighbor_id", col("neighbor_id").cast("long"))
  }

  /** Serve ANN queries from a [[buildLshIndex]]-materialized index —
    * identical results to the inline [[lshTopK]] over the same corpus
    * (LshIndexSpec asserts it). The probed buckets are collected
    * (bounded by |Q|·(numPlanes+1)) into a LITERAL partition filter, so
    * the scan statically prunes to the probed bucket= directories.
    * [[IndexStore.live]] merges the streaming delta tail
    * ([[graft.streaming.StreamIndexAppend]]'s epochs): delta rows are
    * the same pure per-vector function as the base, so the union serves
    * exactly like a one-shot build over everything ingested. */
  def lshServeTopK(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val m = IndexStore.meta(spark, indexDir)
    val probes = lshProbes(queries, idCol, vecCol,
        m.int("num_planes"), m.int("dim"), m.params("seed"))
      .eagerCheckpoint()
    val buckets = probes.select("bucket").distinct().collect().map(_.get(0))
    val bucketed = IndexStore.live(spark, indexDir, LshBucketed,
        Some(buckets.toSeq))
      // partition-column inference may narrow the written long; restore
      // the join key's type
      .select(col("neighbor_id"), col("v"), col("vn"),
        col("bucket").cast("long").as("bucket"))
    // forceDedup: an id present in base AND a delta epoch must collapse
    lshSearch(bucketed, probes, k, forceDedup = true)
  }

  /** IVF (inverted-file) ANN — the other classic scale path beside LSH.
    *
    * Build: centroids are a deterministic hash-ordered sample of corpus
    * vectors (no iterative k-means needed for a recall baseline); every
    * corpus vector is assigned to its nearest centroid — one pass of
    * |N|·|C| dot products against a BROADCAST centroid table, the IVF
    * build cost. Search: each query scores the same centroid table,
    * probes its `nProbe` nearest lists, and scans only those lists via an
    * equi-join on centroid id — per-query work is |C| + the probed-list
    * sizes, never |N|. At 100 TB both the centroid table and the
    * assignment table are what you'd write out as the persistent index;
    * in-query, the centroid table is materialized once (it feeds both
    * the build and the search side) and the assignment feeds its single
    * consumer join directly. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val (centroids, assigned) = ivfBuild(corpus, idCol, vecCol, nCentroids)
    ivfSearch(ivfProbes(centroids, queries, idCol, vecCol, nProbe),
      assigned, k)
  }

  /** Per-query attribute-constrained IVF: [[ivfTopK]] with each query
    * retrieving only candidates whose `attrCol` equals its own — the
    * index-tier member of the filtered-search pair ([[filteredTopK]] is
    * the exact tier). Centroids and assignment are built over the FULL
    * corpus (one shared index serves every slice — the production
    * layout; per-slice indexes would rebuild per tenant), and the
    * attribute constraint lands on the probed candidate rows before any
    * scoring: the shuffle carries probed-list rows only, and off-attr
    * candidates drop before the dot product. Recall within a slice
    * matches unfiltered IVF recall when slices are centroid-balanced;
    * heavily skewed slices should raise nProbe (the standard filtered-
    * ANN guidance). */
  def ivfFilteredTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, attrCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val (centroids, assigned) =
      ivfBuild(corpus, idCol, vecCol, nCentroids, Seq(attrCol))
    val probes = ivfProbes(centroids,
        queries.withColumnRenamed(attrCol, "__qattr"), idCol, vecCol, nProbe,
        extraCols = Seq("__qattr"))
    cosineRank(
      probes.join(assigned, "cid")
        .filter(col("query_id") =!= col("neighbor_id") &&
          col("__qattr") === col(attrCol))
        .withColumn("sim", dot(col("qv"), col("v")) /
          nullif(col("qn") * col("vn"), lit(0.0))),
      k)
  }

  /** THE deterministic sampling contract every yardstick in this file
    * shares (IVF centroids, k-means seed, PQ codebook): the `n` rows
    * with smallest md5(id-as-string), tie by id — stable across
    * runs/partitionings AND reproducible by any engine with md5 (the
    * DuckDB oracles replay it verbatim). One definition so the contract
    * can never silently fork between the index families. */
  private def md5Sample(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.withColumn("__h", md5(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol)).limit(n).drop("__h")

  /** The IVF build pass shared by [[ivfTopK]] (inline) and
    * [[buildIvfIndex]] (persisted): (centroid table, assignment lists).
    * `attrCols` ride along into the assignment lists so a filtered
    * serve can prune on them without touching the corpus. */
  private def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, attrCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val c = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id") +: attrCols.map(col) :+
        asDouble(col(vecCol)).as("v") :+
        l2Norm(asDouble(col(vecCol))).as("vn"): _*)
    val centroids = ivfCentroids(md5Sample(c, "neighbor_id", nCentroids),
      nCentroids)
    // single consumer (the probe join or the index write) — no cache
    (centroids, assignToCentroids(c, centroids))
  }

  /** The (cid, cv, cn) centroid table from an already-drawn
    * (neighbor_id, v, vn) sample. Tiny (nCentroids rows) but referenced
    * by build AND search side: materialize once so the corpus isn't
    * scanned twice for it — driver-resident (localize), so each
    * consumer's broadcast builds from driver memory with no
    * executeCollect job. A sample above `nCentroids` rows fails here. */
  private[graft] def ivfCentroids(sample: DataFrame,
      nCentroids: Int): DataFrame =
    Caches.localize(sample.select(col("neighbor_id").as("cid"),
      col("v").as("cv"), col("vn").as("cn")), nCentroids)

  /** Nearest-centroid (cosine, tie by cid) assignment of a prepared
    * (neighbor_id, v, vn) frame against a broadcast centroid table —
    * the one |rows|·|C| pass [[ivfBuild]] and [[appendToIvfIndex]]
    * share. */
  private def assignToCentroids(c: DataFrame, centroids: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("neighbor_id")
      .orderBy(col("csim").desc, col("cid"))
    c.crossJoin(broadcast(centroids))
      .withColumn("csim", dot(col("v"), col("cv")) /
        nullif(col("vn") * col("cn"), lit(0.0)))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      // every input column rides through (incl. build-time attrCols);
      // only the assignment machinery (csim/rn) and the centroid
      // columns drop out
      .select(c.columns.map(col) :+ col("cid"): _*)
  }

  /** Each query's `nProbe` nearest centroid ids:
    * (query_id, qv, qn, cid). */
  private def ivfProbes(centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val q = queries.select(col(idCol).as("query_id") +: extraCols.map(col) :+
      asDouble(col(vecCol)).as("qv") :+
      l2Norm(asDouble(col(vecCol))).as("qn"): _*)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cid"))
    q.crossJoin(broadcast(centroids))
      .withColumn("csim", dot(col("qv"), col("cv")) /
        nullif(col("qn") * col("cn"), lit(0.0)))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("query_id") +: extraCols.map(col) :+ col("qv") :+
        col("qn") :+ col("cid"): _*)
  }

  /** The probed-list scan + rank pass shared by [[ivfTopK]] and
    * [[ivfServeTopK]]. */
  private def ivfSearch(probes: DataFrame, assigned: DataFrame,
      k: Int): DataFrame =
    cosineRank(
      probes.join(assigned, "cid")
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", dot(col("qv"), col("v")) /
          nullif(col("qn") * col("vn"), lit(0.0))),
      k)

  /** The IVF index's growable table: the assignment lists. */
  private val IvfAssigned = IndexStore.Table("assigned",
    Some("neighbor_id"), Some("cid"))

  /** Materialize the IVF index: the centroid table plus the assignment
    * lists written PARTITIONED BY centroid id — build once per corpus
    * version, serve many. The cid-directory layout is the on-disk form
    * of the inverted file: a serving query's probed lists map to
    * partition directories, so the scan touches nProbe/nCentroids of
    * the index bytes (partition pruning), never the corpus. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, nCentroids: Int = 16,
      attrCols: Seq[String] = Nil): Unit = {
    IndexStore.create(corpus.sparkSession, indexDir, IndexStore.Meta("ivf",
      Map("n_centroids" -> nCentroids.toLong), Seq(IvfAssigned)))
    val (centroids, assigned) =
      ivfBuild(corpus, idCol, vecCol, nCentroids, attrCols)
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids")
    IndexStore.write(assigned, indexDir, IvfAssigned, "overwrite")
  }

  /** Append NEW vectors to a materialized IVF index WITHOUT rebuilding —
    * the [[graft.operators.Dedup.incrementalMinhashPairs]] shape for the
    * ANN tier: the settled corpus's assignment lists and the centroid
    * table are never touched or re-read; only the increment pays an
    * assignment pass (|new|·|C| against the broadcast centroids) and is
    * appended into its cid= partition directories (one writer task per
    * touched list). Nightly index maintenance therefore costs ∝
    * increment, not corpus — at a 100 TB corpus with a 0.1% daily feed
    * that is the difference between an append job and a full rebuild.
    *
    * Centroids DRIFT as the corpus grows (they stay the build-time
    * sample): serve results remain exactly "IVF with the original
    * centroid table over the full corpus" — IvfIndexSpec asserts
    * append ≡ one-shot build when the centroid sample coincides — and
    * the operational signal for a rebuild is the v13 recall gate
    * degrading, not the append itself. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, newVecs: DataFrame, idCol: String,
      vecCol: String, attrCols: Seq[String] = Nil): Unit = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val c = Caches.spreadByKey(newVecs, col(idCol))
      .select(col(idCol).as("neighbor_id") +: attrCols.map(col) :+
        asDouble(col(vecCol)).as("v") :+
        l2Norm(asDouble(col(vecCol))).as("vn"): _*)
    IndexStore.write(assignToCentroids(c, centroids), indexDir, IvfAssigned,
      "append")
  }

  /** Serve ANN queries from a [[buildIvfIndex]]-materialized index —
    * bit-identical results to the inline [[ivfTopK]] over the same
    * corpus (IvfIndexSpec asserts it), without re-reading or
    * re-assigning the corpus. The probed cids are collected (bounded by
    * |queries|·nProbe) into a LITERAL partition filter, so the inverted
    * file scan statically prunes to the probed cid= directories —
    * IvfIndexSpec asserts the PartitionFilters show up in the plan. */
  def ivfServeTopK(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, where: Option[Column] = None): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    // probes feed the cid collect AND the candidate join — materialize
    // once (query-set sized)
    val probes = ivfProbes(centroids, queries, idCol, vecCol, nProbe)
      .eagerCheckpoint()
    val cids = probes.select("cid").distinct().collect().map(_.get(0))
    // `where` (over build-time attrCols) prunes the index scan itself:
    // the predicate pushes into the parquet read NEXT TO the cid
    // partition filter, so a filtered serve reads nProbe/nCentroids of
    // the index bytes and row-group-skips off-attr rows — never
    // post-filters a scored candidate set
    val live = IndexStore.live(spark, indexDir, IvfAssigned, Some(cids.toSeq))
    val assigned = where.fold(live)(live.filter)
      .select(col("neighbor_id"), col("v"), col("vn"), col("cid"))
    ivfSearch(probes, assigned, k)
  }

  /** One k-means (Lloyd) iteration over the IVF assignment machinery:
    * assign every vector to its nearest (cosine) centroid, recompute the
    * per-centroid mean, and report each centroid's population and L2
    * movement — the convergence signal a clustering/index-build loop
    * watches. Same scale shape as the IVF build: one |N|·|C| pass
    * against a broadcast centroid table, then a map-side-combined
    * grouped aggregate of `dim` means (the shuffle carries dim doubles
    * per (centroid, partition), never vectors). Iterating to
    * convergence is this operator in a driver loop, re-feeding `means`
    * as the next centroid table. */
  def kmeansStep(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, dim: Int = 64): DataFrame = {
    val c = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        l2Norm(asDouble(col(vecCol))).as("vn"))
    // tiny; feeds assignment AND the shift join — driver-resident
    // (localize): both consumers broadcast it with no build job, where
    // the checkpoint form paid one executeCollect job per broadcast
    val centroids = Caches.localize(md5Sample(c, "id", nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"), col("vn").as("cn")),
      nCentroids)
    val wAssign = Window.partitionBy("id").orderBy(col("csim").desc, col("cid"))
    val assigned = c.crossJoin(broadcast(centroids))
      .withColumn("csim", dot(col("v"), col("cv")) /
        nullif(col("vn") * col("cn"), lit(0.0)))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("id"), col("v"), col("cid"))
    val avgs = (0 until dim).map(i =>
      avg(element_at(col("v"), i + 1)).as(s"__m$i"))
    val means = assigned.groupBy("cid").agg(count(lit(1)).as("n"), avgs: _*)
    val shift = sqrt((0 until dim).map { i =>
      val d = col(s"__m$i") - element_at(col("cv"), i + 1)
      d * d
    }.reduce(_ + _))
    // LEFT join from the centroid table: a centroid that captured no
    // vectors (possible with duplicate seed vectors) must still appear —
    // n = 0, no mean, no shift — not silently vanish from the report.
    // `centroid` carries the recomputed mean so a driver loop can feed
    // it back as the next centroid table (Lloyd iteration).
    centroids.select(col("cid"), col("cv"))
      .join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNotNull, round(shift, 4)).as("shift"),
        when(col("n").isNotNull,
          array((0 until dim).map(i => col(s"__m$i")): _*)).as("centroid"))
  }

  /** Full k-means (Lloyd) fit — the training loop [[kmeansStep]] is one
    * slot of, run to `iters` iterations entirely inside the engine.
    *
    * Init: the [[ivfTopK]] md5-sample contract (smallest md5(id), tie by
    * id) — any engine with md5 replays the exact starting centroids.
    * Each iteration costs ONE shuffle: the k centroids are packed into a
    * single array-of-structs row and broadcast-cross-joined onto the
    * corpus (no row blow-up — contrast a corpus×k join), the nearest
    * centroid is an `aggregate` fold over that packed array (argmax by
    * raw cosine, ties to the smallest cid — codegen'd, zero extra
    * exchanges), and the new means are ONE map-side-combined grouped
    * aggregate whose shuffle carries k × dim decimal lanes per
    * partition, never vectors. Means are decimal-exact
    * ([[graft.functions.DecVecSumAgg]]: round-to-6dp terms, integer
    * sums), so the fit is order-free and engine-portable — the v19
    * DuckDB oracle replays every iteration bit-for-bit. Empty centroids
    * keep their previous position (they can re-capture later) rather
    * than vanishing. The k-row centroid table is localCheckpoint'd per
    * iteration — lineage stays O(1) in `iters`, the 100 TB shape for an
    * iterative fit (at that scale you would also persist the projected
    * (id, v, norm) input; the loop itself adds no other state).
    *
    * Report: per final centroid, its population and mean member cosine
    * (4dp) — the cluster-quality signal an IVF build or SemDeDup pass
    * reads. Ids must be numeric (they ride a bigint lane); zero-norm
    * vectors (cosine undefined against every centroid) are excluded
    * from the report rather than polluting a real cluster. */
  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3, dim: Int = 64): DataFrame = {
    val c = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"))
    // same iterative-fit input caching as [[ivfTrainedTopK]]: the
    // prepared corpus feeds every Lloyd iteration plus the report pass
    Caches.scoped(c) {
      val cents = kmeansCentroids(c, k, iters, dim)
      val stats = kmeansAssign(c, cents).filter(col("cid") =!= lit(-1L))
        .groupBy("cid").agg(count(lit(1)).as("n"),
          sum(col("sim6").cast("decimal(38,6)")).as("__ss"))
      cents.select(col("cid")).join(stats, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("n"), lit(0L)).as("n"),
          round(col("__ss").cast("double") / col("n"), 4).as("mean_sim"))
        .orderBy("cid")
    }
  }

  /** The Lloyd loop behind [[kmeansFit]], returning the fitted
    * `(cid, cv, cn)` centroid table over a prepared `(id, v, vn)`
    * frame — split out so [[ivfTrainedTopK]] can consume trained
    * centroids as an IVF yardstick. Same md5-seeded init, 6dp decimal-
    * exact means, and per-iteration checkpoint as the fit. */
  private[graft] def kmeansCentroids(c: DataFrame, k: Int, iters: Int,
      dim: Int): DataFrame = {
    // the seed sample is a corpus-wide ordering — data-scale work that
    // wants the session's AQE posture, so it stays OUTSIDE the
    // iteration conf.
    // The k-row centroid state is DRIVER-RESIDENT for the whole fit
    // (Caches.localize — k is an algorithm parameter, bounded at any
    // corpus scale; FAISS trains its quantizer on one node for the same
    // reason): each iteration is then exactly ONE job (the update
    // aggregate's collect), where the checkpoint form paid a
    // materialization job PLUS an executeCollect job per consuming
    // broadcast build. Values are bit-identical — rows are carried
    // verbatim, every arithmetic step still runs in Spark expressions —
    // so the oracle replay and ReliableCheckpointSpec's mode matrix
    // hold unchanged.
    var cents = Caches.localize(md5Sample(c, "id", k)
      .select(col("id").as("cid"), col("v").as("cv"), col("vn").as("cn")), k)
    // per-iteration state is the k-row centroid table: the same
    // broadcast-regime loop shape as pageRank/CC/BFS, so the same
    // iteration conf applies — AQE off (one job per checkpoint instead
    // of a stage-job + driver re-plan per exchange) and state-sized
    // reduce width. Honest measurement: at sf0.1 this is NEUTRAL
    // (same-window ABAB v28/v30 within ±10% window noise — the cached
    // corpus passes dominate, not the exchange choreography); it ships
    // for the driver-side job-count reduction (each Lloyd iteration's
    // checkpoint is one job instead of a per-exchange stage-job chain —
    // the overhead that grows with cluster size, not data size) and
    // for consistency with the other in-regime iterative loops.
    // Map-side parallelism is untouched (the corpus is cached at the
    // session layout; assignment rides a broadcast), and the
    // per-iteration aggregates are order-free decimal sums, so results
    // are partitioning-independent by construction
    // (ReliableCheckpointSpec + the oracle replay pin byte-equality).
    Caches.withIterationConf(c.sparkSession, math.max(1L, k.toLong)) {
      for (_ <- 1 to iters) {
        // localize IS the iteration's one materializing action; the
        // superseded state needs no release (driver rows, no blocks)
        cents = Caches.localize(
          kmeansUpdate(cents, kmeansAssign(c, cents), dim), k)
      }
    }
    cents
  }

  /** One assignment pass: each prepared row's argmax-cosine centroid
    * (ties to the smallest cid) against a PACKED broadcast of the
    * centroid table — the k centroids ride as one array-of-structs row,
    * so the corpus never row-multiplies by k. Zero-norm vectors (cosine
    * undefined everywhere) get cid −1. */
  /** Packed-centroid element for the driver-side 1-row packed table in
    * [[kmeansAssign]] — field names must stay cid/cv/cn (the fold reads
    * them by name, and they mirror the former collect_list struct). */
  private case class PackedCent(cid: Long, cv: Seq[Double], cn: Double)

  private def kmeansAssign(c: DataFrame, cents: DataFrame): DataFrame = {
    // pack the k-row centroid table into a 1-row LOCAL packed table on
    // the driver: cents is a LocalRelation (the kmeansCentroids
    // contract), so collect() is a driver-local row copy, and the
    // broadcast below builds from the LocalTableScan with NO job — the
    // former agg(sort_array(collect_list)) over a checkpoint paid a
    // broadcast-build job per assignment pass to ship the same k rows.
    // Sort by cid = the former sort_array order (struct-lexicographic on
    // a unique first field); the fold is unchanged, so every assignment
    // and sim6 is bit-identical. Deliberately NOT an inline literal: the
    // fold must keep referencing the broadcast side's ATTRIBUTE so the
    // post-assignment `cid != -1` filters cannot collapse through the
    // projection and push a per-row k-fold re-evaluation into the cache
    // scan (measured: v29 ~1.6x slower with a literal fold).
    val spark = c.sparkSession
    import spark.implicits._
    val packedRows = cents.select(col("cid"), col("cv"), col("cn")).collect()
      .map(r => PackedCent(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_.cid).toSeq
    val packed = Seq(Tuple1(packedRows)).toDF("cents")
    val best = aggregate(col("cents"),
      struct(lit(-2.0).as("s"), lit(-1L).as("cid")),
      (acc, ct) => {
        val s = coalesce(dot(col("v"), ct.getField("cv")) /
          nullif(col("vn") * ct.getField("cn"), lit(0.0)), lit(-2.0))
        when(s > acc.getField("s"),
          struct(s.as("s"), ct.getField("cid").as("cid"))).otherwise(acc)
      })
    c.crossJoin(broadcast(packed))
      .select(col("id"), col("v"), best.getField("cid").as("cid"),
        round(best.getField("s"), 6).as("sim6"))
  }

  /** One Lloyd update: new centroid = 6dp-rounded decimal-exact mean of
    * members ([[graft.functions.DecVecSumAgg]] — order-free, engine-
    * portable); an empty centroid keeps its position. */
  private def kmeansUpdate(cents: DataFrame, assigned: DataFrame,
      dim: Int): DataFrame = {
    import graft.functions.DecVecSumAgg.decVecSum
    val sums = assigned.groupBy("cid").agg(count(lit(1)).as("n"),
      decVecSum(transform(col("v"),
        t => round(t, 6).cast("decimal(38,6)")), dim).as("sv"))
    cents.select(col("cid"), col("cv"))
      .join(sums, Seq("cid"), "left")
      .select(col("cid"),
        when(col("n").isNotNull, transform(col("sv"),
          s => round(s.cast("double") / col("n"), 6)))
          .otherwise(col("cv")).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    // materialization is the caller's localize() — the one action per
    // Lloyd iteration
  }

  /** SSL-prototypes pruning (Sorscher et al. '22 "Beyond neural scaling
    * laws", arXiv:2206.14486; the diversification half of D4, Tirumala
    * et al. '23, arXiv:2308.12284): cluster the corpus with the trained
    * k-means ([[kmeansCentroids]] — md5-seeded, engine-replayable), score
    * every member by cosine to its own centroid (prototypicality), and
    * DROP the most prototypical `pruneFrac` of each cluster — the
    * redundant "easy" core a web-scale corpus over-represents — keeping
    * the informative fringe. The complement of SemDeDup ([[semDedup]]
    * drops near-DUPLICATES; this drops near-PROTOTYPES), and together
    * they are the D4 recipe.
    *
    * Scale shape: the clustering is the v19 Lloyd loop (one broadcast-
    * centroid pass + one dim-wide decimal agg per iteration); the
    * verdict adds ONE cid-partitioned window over fixed-width
    * (id, cid, sim) rows — no pair scan anywhere, nothing quadratic.
    * Zero-norm vectors (cosine undefined) are excluded. Per-row
    * verdict: (id, cid, proto_sim 6dp, rank — 1 = most prototypical,
    * keep). */
  def protoPrune(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, pruneFrac: Double = 0.25,
      dim: Int = 64): DataFrame = {
    require(pruneFrac >= 0 && pruneFrac < 1,
      s"pruneFrac ($pruneFrac) must be in [0, 1)")
    val c = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"))
    val cents = kmeansCentroids(c, k, iters, dim)
    val assigned = kmeansAssign(c, cents).filter(col("cid") =!= lit(-1L))
    val w = Window.partitionBy("cid").orderBy(col("sim6").desc, col("id"))
    assigned
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("cid")))
      .select(col("id"), col("cid"),
        (col("sim6") + 0.0).as("proto_sim"), col("rank"),
        (col("rank") > floor(lit(pruneFrac) * col("__n")))
          .cast("int").as("keep"))
  }

  /** IVF with TRAINED centroids: [[ivfTopK]]'s probe/search machinery
    * over a [[kmeansCentroids]] Lloyd fit instead of the raw md5
    * sample. The md5 sample stays as the SEED (so the whole chain is
    * engine-replayable, oracle included); `iters` Lloyd iterations then
    * move the centroids to cluster means — tighter lists, better
    * per-probe recall. This is how a production IVF index is actually
    * built (FAISS trains centroids; sampling is only the init), and
    * the v28 recall gate measures the training gain directly against
    * the sampled-centroid yardstick on the same corpus. */
  def ivfTrainedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 3,
      dim: Int = 64): DataFrame = {
    val cPrep = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"))
    // the prepared corpus feeds every Lloyd iteration AND the final
    // assignment — the canonical iterative-fit input-caching pattern
    // (without it each of the iters+2 jobs re-runs scan+cast+norm over
    // the full corpus); scoped() releases the cache with the result
    // materialized
    Caches.scoped(cPrep) {
      val cents = kmeansCentroids(cPrep, nCentroids, iters, dim)
      val assigned = assignToCentroids(
        cPrep.select(col("id").as("neighbor_id"), col("v"), col("vn")), cents)
      ivfSearch(ivfProbes(cents, queries, idCol, vecCol, nProbe), assigned, k)
    }
  }

  /** IVF-PQ with TRAINED list centroids — the canonical production
    * vector-index build completed: [[ivfPqTopK]]'s list-pruned ADC
    * search with the inverted lists assigned to a [[kmeansCentroids]]
    * Lloyd fit (md5-seeded, engine-replayable) instead of the raw
    * sample, exactly how FAISS trains an IVF-PQ coarse quantizer. The
    * PQ codebook stays the md5-sampled yardstick (subspace-codebook
    * training is an independent k-means per subspace — a different
    * knob; the lists are what the Lloyd fit tightens). Same scale
    * shape as [[ivfPqTopK]]: the corpus pays one encode pass and one
    * assignment pass per Lloyd iteration + 1, the search scans
    * nProbe lists of m-byte codes.
    *
    * Honest measurement note: list training improves CANDIDATE
    * quality (the v28 gate shows the gain on the uncompressed tier,
    * where ranking is exact); at a coarse codebook the FINAL top-k is
    * ADC-noise-dominated, so end-to-end recall can move either way —
    * SimilaritySpec pins the invariants that do hold (pair scores
    * identical to the unrestricted ADC scan; lists genuinely moved). */
  def ivfPqTrainedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 3,
      m: Int = 8, dsub: Int = 8, nCodes: Int = 16,
      dim: Int = 64): DataFrame = {
    val cPrep = Caches.spreadByKey(
      requirePqDim(corpus, vecCol, m, dsub), col(idCol))
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"))
    // cPrep feeds the Lloyd loop (iters+1 jobs), the codebook fit, the
    // encode pass, AND the assignment — iters+4 full re-executions of
    // scan+cast+norm without the cache; scoped() is the standard
    // iterative-fit input caching and releases with the result hot
    Caches.scoped(cPrep) {
      val cents = kmeansCentroids(cPrep, nCentroids, iters, dim)
      // the codebook feeds the corpus encode pass AND the query LUTs;
      // broadcast-scale (m·nCodes rows), already driver-resident from
      // pqCodebookFromSample's localize — a second checkpoint here was
      // redundant even in the checkpoint era
      val codebook = pqCodebook(cPrep.select(col("id"), col("v")), m, dsub,
        nCodes)
      val codes = pqEncodeAgainst(cPrep.select(col("id"), col("v")),
          codebook, m, dsub)
        .join(assignToCentroids(
            cPrep.select(col("id").as("neighbor_id"), col("v"), col("vn")),
            cents)
          .select(col("neighbor_id").as("id"), col("cid")), "id")
      val (_, _, nActual) = pqMeta(codebook) // dense stride, see pqTopK
      ivfPqSearch(codes,
        ivfProbes(cents, queries, idCol, vecCol, nProbe),
        pqLuts(queries, codebook, idCol, vecCol, m, dsub, nActual),
        k, m, nActual)
    }
  }

  /** Product-quantization (PQ) codebook: the md5-sampled corpus rows'
    * subvectors, one `nCodes`-entry codebook per `m` subspace (Jégou et
    * al., "Product quantization for nearest neighbor search", TPAMI
    * 2011 — the third classic ANN scale path beside LSH and IVF).
    * Sampling follows the [[ivfTopK]] centroid contract (smallest
    * md5(id), tie by id) so any engine with md5 can replay the exact
    * codebook. Output: (j, cid, cidx, cs, csq) — subspace, source row
    * id, dense code index (rank of cid), subvector, and its
    * self-dot — m·nCodes rows, always broadcast-scale. */
  private def pqCodebook(c: DataFrame, m: Int, dsub: Int,
      nCodes: Int): DataFrame =
    pqCodebookFromSample(
      md5Sample(c, "id", nCodes)
        .select(col("id").as("cid"), col("v").as("cv")), m, dsub, nCodes)

  /** Subspace-explode an already-sampled (cid, cv) seed table of at most
    * `nCodes` rows into the codebook — split out so [[ivfPqBuild]] can
    * reuse ONE corpus sample for both yardsticks when the sizes
    * coincide. */
  private def pqCodebookFromSample(sample: DataFrame, m: Int,
      dsub: Int, nCodes: Int): DataFrame = {
    // rank once (the sampled id set is the same in every subspace), so
    // cidx is "position of cid among the sampled ids" everywhere
    val wIdx = Window.orderBy(col("cid")) // nCodes rows: fine unpartitioned
    // tiny (m·nCodes rows) but its subtree is a corpus-wide sample and it
    // feeds the encode pass, the per-query LUT build AND pqMeta:
    // materialize once — driver-resident (localize), so each consumer's
    // broadcast builds with no executeCollect job
    Caches.localize(sample
      .withColumn("cidx", row_number().over(wIdx) - 1)
      .select(explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("cid"), col("cidx"), col("cv"))
      .withColumn("cs", slice(col("cv"), col("j") * dsub + 1, lit(dsub)))
      .select(col("j"), col("cid"), col("cidx"), col("cs"),
        dot(col("cs"), col("cs")).as("csq")), m * nCodes)
  }

  /** Encode every corpus vector as its `m` nearest-subvector code
    * indices: (id, codes array<int>, ordered by subspace). One
    * |N|·m·nCodes pass of dsub-wide L2² distances against the broadcast
    * codebook — the PQ build cost. The output row is id + m small ints
    * (8 bytes/vector at the defaults vs 256 of raw float32): THIS is
    * the table a billion-vector serving tier scans, shuffles, and
    * caches instead of the embeddings. */
  private def pqEncodeAgainst(c: DataFrame, codebook: DataFrame, m: Int,
      dsub: Int): DataFrame = {
    val sub = c
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("v"))
      .withColumn("xs", slice(col("v"), col("j") * dsub + 1, lit(dsub)))
      .select(col("id"), col("j"), col("xs"),
        dot(col("xs"), col("xs")).as("xsq"))
    sub.join(broadcast(codebook), "j")
      // L2² via the three-dot identity, left-assoc — bit-reproducible
      // by the oracle's  xsq - 2*dot + csq  in the same order
      .withColumn("dist",
        col("xsq") - lit(2.0) * dot(col("xs"), col("cs")) + col("csq"))
      // argmin as a lexicographic struct-min (dist asc, tie cidx asc —
      // the same order a rank window would use) so the per-(id, j)
      // reduction is a MAP-SIDE-COMBINABLE aggregate over (id, j,
      // dist, cidx) rows: the shuffle carries one ~28-byte partial per
      // (id, j, partition), never the m·nCodes-amplified subvector rows
      // a window sort would move (ShuffleWidthSpec pins this)
      .select(col("id"), col("j"), col("dist"), col("cidx"))
      .groupBy("id", "j")
      .agg(min(struct(col("dist"), col("cidx"))).getField("cidx").as("cidx"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cidx")))),
        s => s.getField("cidx")).as("codes"))
  }

  /** PQ-ADC approximate top-k: answer each query against the CODES
    * table, never the float vectors. Per query, one m·nCodes lookup
    * table of exact subvector L2² distances (asymmetric distance
    * computation — query side stays unquantized); per corpus vector, an
    * m-step table walk summed in fixed subspace order. Smaller-is-nearer,
    * so ranks ascend by `adist`.
    *
    * Scale shape: codebook and per-query LUTs broadcast (m·nCodes
    * doubles each); the corpus-side scan carries (id, m codes) only —
    * the 32× memory compression is exactly what makes the scan/shuffle
    * affordable at 10⁹ vectors, and re-ranking the returned k with true
    * distances ([[bruteForceTopK]] over the k ids) is the standard
    * second stage when exactness matters. Recall vs the brute truth is
    * gated in-engine (v15, the v08/v13 pattern). */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, dsub: Int = 8, nCodes: Int = 16): DataFrame = {
    val c = pqPrepare(requirePqDim(corpus, vecCol, m, dsub), idCol, vecCol)
    // three consumers (pqMeta's collect, the encode pass, the query
    // LUTs) would each re-run the corpus-wide md5 sample behind the
    // codebook — pqCodebookFromSample materializes it once,
    // driver-resident, so the consumers' broadcasts build with no job
    val codebook = pqCodebook(c, m, dsub, nCodes)
    // the lut stride is the DENSE codebook size — smaller than the
    // requested nCodes when the corpus has fewer rows; striding by the
    // request would walk the wrong subspace's entries
    val (_, _, nActual) = pqMeta(codebook)
    pqAdcSearch(pqEncodeAgainst(c, codebook, m, dsub),
      pqLuts(queries, codebook, idCol, vecCol, m, dsub, nActual),
      k, m, nActual)
  }

  private def pqPrepare(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))

  /** Row-level dim guard: the PQ slicers silently mangle vectors whose
    * length != m·dsub (short tail subvectors, null-padded dots), so ANY
    * offending row — null, ragged, or null-element — throws from inside
    * the first real scan. Riding the scan as an assert_true filter
    * costs no extra pass (an eager min/max probe would re-read the
    * widest column of the whole corpus before the work even starts);
    * same pattern as [[Pca.topComponent]]'s guard. */
  private def requirePqDim(df: DataFrame, vecCol: String, m: Int,
      dsub: Int): DataFrame = {
    require(m >= 1 && dsub >= 1, s"m ($m) and dsub ($dsub) must be >= 1")
    df.filter(assert_true(
      coalesce(size(col(vecCol)), lit(-1)) === m * dsub &&
        forall(col(vecCol), x => x.isNotNull),
      lit(s"$vecCol: null, ragged, or non-${m * dsub}-dim vector")).isNull)
  }

  /** Per-query ADC lookup table: exact L2² of each query subvector
    * against every codebook entry, flattened to a (m·nCodes)-slot array
    * in (j, cidx) order so the ADC walk is element_at arithmetic.
    * |Q|·m·nCodes rows in, |Q| array rows out — always broadcast-scale. */
  private def pqLuts(queries: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int, dsub: Int,
      nCodes: Int): DataFrame = {
    val qsub = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .select(col("query_id"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("qv"))
      .withColumn("qs", slice(col("qv"), col("j") * dsub + 1, lit(dsub)))
      .select(col("query_id"), col("j"), col("qs"),
        dot(col("qs"), col("qs")).as("qsq"))
    qsub.join(broadcast(codebook), "j")
      .withColumn("pdist",
        col("qsq") - lit(2.0) * dot(col("qs"), col("cs")) + col("csq"))
      .withColumn("slot", col("j") * nCodes + col("cidx"))
      .groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("slot"), col("pdist")))),
        s => s.getField("pdist")).as("lut"))
  }

  /** The m-step ADC table walk, textually unrolled in subspace order
    * (left-assoc) so the oracle reproduces every double. `nCodes` MUST
    * be the lut's actual stride (the dense codebook's size — [[pqMeta]]
    * recovers it), not the requested one. */
  private def adcExpr(m: Int, nCodes: Int): Column =
    (0 until m).map { j =>
      element_at(col("lut"), col("codes").getItem(j) + lit(j * nCodes + 1))
    }.reduceLeft(_ + _)

  /** The full-scan ADC pass shared by [[pqTopK]] (inline) and
    * [[pqServeTopK]] (persisted index): every (query, corpus-code-row)
    * pair pays one table walk. */
  private def pqAdcSearch(codes: DataFrame, luts: DataFrame, k: Int,
      m: Int, nCodes: Int): DataFrame =
    pqAdcRank(codes.crossJoin(broadcast(luts)), k, m, nCodes)

  /** Score + rank candidate (query_id, id, codes, lut) rows — shared by
    * the full-scan PQ search and the probed-list IVF-PQ search. */
  private def pqAdcRank(cands: DataFrame, k: Int, m: Int,
      nCodes: Int): DataFrame = {
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id"))
    cands
      .filter(col("query_id") =!= col("id"))
      .withColumn("adist", adcExpr(m, nCodes))
      .select(col("query_id"), col("id").as("neighbor_id"), col("adist"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adist"), 4).as("adist"), col("rank").cast("long").as("rank"))
  }

  /** Two-stage PQ serving: ADC over the codes table shortlists
    * `shortlist` candidates per query, then ONLY those rows' true
    * vectors are fetched for an exact cosine re-rank — the standard
    * production recipe (quantization error is concentrated in the
    * final ordering, which the exact stage repairs, while the
    * corpus-wide scan stays compressed). Vector fetch cost is
    * |Q|·shortlist rows, never the corpus. */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int = 20,
      m: Int = 8, dsub: Int = 8, nCodes: Int = 16): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val short = pqTopK(corpus, queries, idCol, vecCol, shortlist,
        m, dsub, nCodes)
      .select(col("query_id"), col("neighbor_id"))
    // the corpus side stays RAW through the shortlist semi-join —
    // decode (double-cast) and norm are computed above the join, on the
    // |Q|·shortlist survivors only, never the corpus (computed
    // projections don't push below a join, so this holds in the plan)
    val qv = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"), l2Norm(asDouble(col(vecCol))).as("qn"))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("v", asDouble(col("__nv")))
      .withColumn("sim", dot(col("qv"), col("v")) /
        nullif(col("qn") * l2Norm(col("v")), lit(0.0)))
    cosineRank(scored, k)
  }

  /** Sign-bit code of a `dim`-dimensional vector packed into ONE long
    * (bit i set ⟺ element i > 0) — built by a bitwise-OR fold so the
    * high bit (1L << 63) needs no overflow-prone addition. */
  private def signPack(v: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 64, s"dim ($dim) must be in [1, 64]")
    (0 until dim).map(i =>
        when(element_at(v, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
  }

  /** Binary-quantization ANN with exact re-rank — the 1-bit member of
    * the compression family (64× smaller than float32 at dim 64: the
    * whole corpus vector becomes ONE long). Candidates are shortlisted
    * by hamming distance between sign-bit codes (`bit_count(xor)` —
    * 2 machine instructions/pair) and the shortlist survivors are
    * re-ranked by exact cosine over the raw vectors, which (as in
    * [[pqRerankTopK]]) are only decoded ABOVE the shortlist semi-join.
    * At serving scale the codes table is what's scanned — 8 bytes/row
    * — and the hamming top-`shortlist` is a WindowGroupLimit per
    * query, never a global sort. Sign-of-coordinate is exactly the
    * 1-bit random-hyperplane LSH family (Charikar STOC'02) with
    * axis-aligned planes, so hamming ∝ angular distance. */
  def bqRerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int = 32,
      dim: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val codes = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"),
        signPack(asDouble(col(vecCol)), dim).as("code"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      signPack(asDouble(col(vecCol)), dim).as("qcode")))
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("ham"), col("neighbor_id"))
    val short = codes.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("ham", bit_count(col("code").bitwiseXOR(col("qcode"))))
      .withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"), l2Norm(asDouble(col(vecCol))).as("qn"))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("v", asDouble(col("__nv")))
      .withColumn("sim", dot(col("qv"), col("v")) /
        nullif(col("qn") * l2Norm(col("v")), lit(0.0)))
    cosineRank(scored, k)
  }

  /** The PQ index's growable table: flat codes, scanned whole. */
  private val PqCodes = IndexStore.Table("codes", Some("id"), None)

  /** Materialize the PQ index: codebook (m·nCodes subvector entries)
    * plus the codes table — (id, m small ints) per corpus vector, the
    * 32×-compressed scan target. Build once per corpus version, serve
    * many; the build pays the one |N|·m·nCodes encode pass. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, m: Int = 8, dsub: Int = 8,
      nCodes: Int = 16): Unit = {
    IndexStore.create(corpus.sparkSession, indexDir, IndexStore.Meta("pq",
      Map("m" -> m.toLong, "dsub" -> dsub.toLong, "n_codes" -> nCodes.toLong),
      Seq(PqCodes)))
    val c = pqPrepare(requirePqDim(corpus, vecCol, m, dsub), idCol, vecCol)
    val codebook = pqCodebook(c, m, dsub, nCodes)
    codebook.write.mode("overwrite").parquet(s"$indexDir/codebook")
    IndexStore.write(pqEncodeAgainst(c, codebook, m, dsub), indexDir, PqCodes,
      "overwrite")
  }

  /** Append NEW vectors to a materialized PQ index without rebuilding —
    * the [[appendToIvfIndex]] shape for the PQ tier: the settled codes
    * are never re-read, only the increment pays an encode pass against
    * the saved codebook. The codebook DRIFTS as the corpus grows (it
    * stays the build-time sample) — serve results remain exactly "PQ
    * with the original codebook over the full corpus"; the rebuild
    * signal is the v15 recall gate degrading, not the append. */
  def appendToPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, newVecs: DataFrame, idCol: String,
      vecCol: String): Unit = {
    val codebook = spark.read.parquet(s"$indexDir/codebook")
    val (m, dsub, _) = pqMeta(codebook)
    IndexStore.write(pqEncodeAgainst(pqPrepare(
        requirePqDim(newVecs, vecCol, m, dsub), idCol, vecCol),
      codebook, m, dsub), indexDir, PqCodes, "append")
  }

  /** Serve ANN queries from a [[buildPqIndex]]-materialized index —
    * bit-identical to the inline [[pqTopK]] over the same corpus
    * (PqIndexSpec asserts it): the scan touches only the codes table
    * (id + m bytes per vector), never the embeddings. */
  def pqServeTopK(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val codebook = spark.read.parquet(s"$indexDir/codebook")
    val (m, dsub, nCodes) = pqMeta(codebook)
    pqAdcSearch(IndexStore.live(spark, indexDir, PqCodes),
      pqLuts(queries, codebook, idCol, vecCol, m, dsub, nCodes), k, m, nCodes)
  }

  /** (m, dsub, nCodes) recovered from a saved codebook — one bounded
    * aggregate over m·nCodes rows (the ADC unroll needs m at plan-build
    * time, so this is driver-side by necessity, like [[ivfServeTopK]]'s
    * probed-cid collect). */
  private def pqMeta(codebook: DataFrame): (Int, Int, Int) = {
    val r = codebook.agg(max(col("j")), max(size(col("cs"))),
      max(col("cidx"))).head
    (r.getInt(0) + 1, r.getInt(1), r.getInt(2) + 1)
  }

  /** IVF-PQ: the canonical billion-vector serving architecture — IVF
    * LIST PRUNING (each query scans only its `nProbe` probed lists)
    * combined with PQ COMPRESSION (the lists hold m-byte codes, not
    * vectors). At 10⁹ vectors the per-query scan is
    * nProbe/nCentroids × 1/32 of the raw corpus bytes — the two
    * reductions multiply, which is why every production vector store
    * ships this exact shape. Codes quantize the RAW vectors against
    * the one global codebook (not per-list residuals): recall is
    * gated by the same machinery as v15, and the md5 sampling
    * contract stays engine-replayable. Distance is the [[pqTopK]] ADC
    * walk restricted to each query's probed lists. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, dsub: Int = 8, nCodes: Int = 16): DataFrame = {
    val (centroids, codebook, codes) =
      ivfPqBuild(requirePqDim(corpus, vecCol, m, dsub),
        idCol, vecCol, nCentroids, m, dsub, nCodes)
    val (_, _, nActual) = pqMeta(codebook) // dense stride, see pqTopK
    ivfPqSearch(codes,
      ivfProbes(centroids, queries, idCol, vecCol, nProbe),
      pqLuts(queries, codebook, idCol, vecCol, m, dsub, nActual),
      k, m, nActual)
  }

  /** The IVF-PQ build: centroid table, PQ codebook, and the compressed
    * inverted file — (id, codes, cid), the ONLY corpus-sized artifact. */
  private def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, m: Int, dsub: Int,
      nCodes: Int): (DataFrame, DataFrame, DataFrame) = {
    val c = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        l2Norm(asDouble(col(vecCol))).as("vn"))
    val sample = Caches.localize(md5Sample(c, "id", nCentroids), nCentroids)
    val centroids = sample
      .select(col("id").as("cid"), col("v").as("cv"), col("vn").as("cn"))
    // at the (default) nCentroids == nCodes the two yardsticks are the
    // SAME md5 sample — derive both from one driver-resident corpus sort
    val codebook =
      if (nCodes == nCentroids)
        pqCodebookFromSample(
          sample.select(col("id").as("cid"), col("v").as("cv")), m, dsub,
          nCodes)
      else pqCodebook(c.select(col("id"), col("v")), m, dsub, nCodes)
    val codes = pqEncodeAgainst(c.select(col("id"), col("v")),
        codebook, m, dsub)
      .join(assignToCentroids(
          c.select(col("id").as("neighbor_id"), col("v"), col("vn")),
          centroids)
        .select(col("neighbor_id").as("id"), col("cid")), "id")
    (centroids, codebook, codes)
  }

  /** Probed-list ADC: candidates come from the equi-join of the codes
    * table with each query's probed cids — per-query work is bounded by
    * the probed-list sizes, in code bytes. */
  private def ivfPqSearch(codes: DataFrame, probes: DataFrame,
      luts: DataFrame, k: Int, m: Int, nCodes: Int): DataFrame =
    pqAdcRank(
      codes.join(probes.select(col("query_id"), col("cid")), "cid")
        .join(broadcast(luts), "query_id"),
      k, m, nCodes)

  /** The IVF-PQ index's growable table: the compressed inverted file. */
  private val IvfPqCodes = IndexStore.Table("codes", Some("id"), Some("cid"))

  /** Materialize the IVF-PQ index: centroids + codebook (both tiny) and
    * the compressed inverted file, PARTITIONED BY cid — serving scans
    * nProbe partition directories of m-byte codes, the smallest
    * possible read for an ANN query over this corpus. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, nCentroids: Int = 16,
      m: Int = 8, dsub: Int = 8, nCodes: Int = 16): Unit = {
    IndexStore.create(corpus.sparkSession, indexDir, IndexStore.Meta("ivfpq",
      Map("n_centroids" -> nCentroids.toLong, "m" -> m.toLong,
        "dsub" -> dsub.toLong, "n_codes" -> nCodes.toLong), Seq(IvfPqCodes)))
    val (centroids, codebook, codes) =
      ivfPqBuild(requirePqDim(corpus, vecCol, m, dsub),
        idCol, vecCol, nCentroids, m, dsub, nCodes)
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids")
    codebook.write.mode("overwrite").parquet(s"$indexDir/codebook")
    IndexStore.write(codes, indexDir, IvfPqCodes, "overwrite")
  }

  /** Append NEW vectors to a materialized IVF-PQ index without
    * rebuilding — the increment pays one assignment pass against the
    * saved centroids and one encode pass against the saved codebook,
    * then lands in its cid= partitions. Both yardsticks DRIFT as the
    * corpus grows (they stay the build-time samples); the rebuild
    * signal is the recall gate degrading, as with the other two index
    * families. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, newVecs: DataFrame, idCol: String,
      vecCol: String): Unit = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val codebook = spark.read.parquet(s"$indexDir/codebook")
    val (m, dsub, _) = pqMeta(codebook)
    val c = Caches.spreadByKey(
      requirePqDim(newVecs, vecCol, m, dsub), col(idCol))
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        l2Norm(asDouble(col(vecCol))).as("vn"))
    IndexStore.write(
      pqEncodeAgainst(c.select(col("id"), col("v")), codebook, m, dsub)
        .join(assignToCentroids(
            c.select(col("id").as("neighbor_id"), col("v"), col("vn")),
            centroids)
          .select(col("neighbor_id").as("id"), col("cid")), "id"),
      indexDir, IvfPqCodes, "append")
  }

  /** Serve from a [[buildIvfPqIndex]] index — bit-identical to the
    * inline [[ivfPqTopK]] (IvfPqIndexSpec asserts it). The probed cids
    * are collected into a LITERAL partition filter, so the scan
    * statically prunes to nProbe cid= directories of codes. */
  def ivfPqServeTopK(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val codebook = spark.read.parquet(s"$indexDir/codebook")
    val (m, dsub, nCodes) = pqMeta(codebook)
    val probes = ivfProbes(centroids, queries, idCol, vecCol, nProbe)
      .eagerCheckpoint()
    val cids = probes.select("cid").distinct().collect().map(_.get(0))
    val codes = IndexStore.live(spark, indexDir, IvfPqCodes, Some(cids.toSeq))
      .select(col("id"), col("codes"), col("cid"))
    ivfPqSearch(codes, probes,
      pqLuts(queries, codebook, idCol, vecCol, m, dsub, nCodes),
      k, m, nCodes)
  }

  /** SemDeDup (Abbas et al. '23, arXiv:2303.09540): semantic
    * deduplication via embedding clusters — cluster the corpus, compare
    * pairs only WITHIN a cluster, and drop every vector that sits above
    * `threshold` cosine of a lower-id clustermate. The clustering is
    * what makes the operation affordable: the quadratic pair scan is
    * per-cluster (Σ|cluster|² ≪ |N|²), and at 100 TB each cluster's
    * scan is an independent equi-join key — the same partitioned-join
    * shape as the LSH-bucketed dedups, with the cluster assignment
    * produced by one |N|·|C| pass against a broadcast centroid table
    * (the [[ivfTopK]] build). Returns every corpus row with its cluster
    * and verdict: (id, cid, keep).
    *
    * Hot-cluster guard: a cluster larger than `maxCluster` (a
    * boilerplate embedding family — exactly the content SemDeDup
    * exists to drop) is screened against its MIN-ID member only instead
    * of all lower-id mates: linear in cluster size, and for the
    * near-identical members that caused the overflow the verdict is the
    * same (they sit above threshold of the min too). The residual is
    * CONSERVATIVE — a fringe member similar to some mid-id mate but not
    * to the min is kept rather than dropped, never the reverse — so the
    * cap can only under-dedup, not destroy data. Honest clusters stay
    * exactly the paper's verdict. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int = 16,
      maxCluster: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(maxCluster >= 1, s"maxCluster ($maxCluster) must be >= 1")
    val (_, assigned) = ivfBuild(corpus, idCol, vecCol, nCentroids)
    val w = Window.partitionBy("cid")
    // pin the cid exchange: the window AND the per-cluster screening
    // self-join below both cluster on cid, and the join carries the
    // |cluster|²-bounded dot-product compute — the query's dominant
    // cost. Left to AQE the byte-light exchange coalesces to ~2 tasks
    // and that compute serializes (measured 1.5 s of v09's 2.6 s);
    // pinned, the cached assignment is already distributed on cid and
    // the join runs exchange-free at cluster-count width.
    val a = Caches.spreadByKey(
        assigned.select(col("neighbor_id").as("id"), col("v"),
          col("vn"), col("cid")), col("cid"))
      .withColumn("__csz", count(lit(1)).over(w))
      .withColumn("__rep",
        min(struct(col("id"), col("v"), col("vn"))).over(w))
    // the assignment feeds the self-join twice plus the verdict join —
    // materialize once, release on return
    Caches.scoped(a) {
      val small = a.filter(col("__csz") <= maxCluster)
      val cliqueDups = small.as("x").join(small.as("y"),
          col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
        .filter(dot(col("x.v"), col("y.v")) /
          nullif(col("x.vn") * col("y.vn"), lit(0.0)) >= threshold)
        .select(col("y.id").as("id"))
      val starDups = a
        .filter(col("__csz") > maxCluster && col("id") =!= col("__rep.id"))
        .filter(dot(col("__rep.v"), col("v")) /
          nullif(col("__rep.vn") * col("vn"), lit(0.0)) >= threshold)
        .select(col("id"))
      val dups = cliqueDups.unionByName(starDups).distinct()
      a.select("id", "cid")
        .join(dups.withColumn("__dup", lit(1)), Seq("id"), "left")
        .select(col("id"), col("cid"),
          col("__dup").isNull.cast("int").as("keep"))
    }
  }

  /** Benchmark decontamination in embedding space: every train vector
    * within `threshold` cosine of an eval/benchmark vector — the
    * semantic sibling of [[Dedup.contaminatedDocs]] (n-gram overlap
    * misses paraphrased leaks; embedding similarity catches them). The
    * eval set is benchmark-sized, so it broadcasts; the corpus streams
    * through one scored pass. The scoring join itself moves nothing —
    * the only exchange is the compute-spread repartition of the corpus
    * scan (a byte-light-input parallelism fix; block-sized inputs at
    * real scale arrive pre-split and could drop it). */
  def semanticContamination(train: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame =
    Caches.spreadByKey(train, col(idCol))
      .select(col(idCol).as("train_id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"))
      .crossJoin(broadcast(evalSet.select(col(idCol).as("eval_id"),
        asDouble(col(vecCol)).as("ev"), l2Norm(asDouble(col(vecCol))).as("en"))))
      .withColumn("sim", dot(col("v"), col("ev")) /
        nullif(col("vn") * col("en"), lit(0.0)))
      .filter(col("sim") >= threshold)
      .select(col("train_id"), col("eval_id"), round(col("sim"), 4).as("sim"))

  /** Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98): from each query's top-`c` cosine candidates, greedily
    * pick `k` results trading relevance against redundancy —
    * `λ·sim(q,d) − (1−λ)·max_{s∈sel} sim(d,s)`. The pick loop is
    * UNROLLED into the plan (k is small and fixed at serving time):
    * each round is a per-query window argmax plus a query-keyed join
    * that folds the new pick's similarity into the running redundancy
    * penalty — every stage is partitioned by query id over ≤ c rows
    * per query, so a batch of a million queries re-ranks as one
    * shuffle-bounded job, no driver loop over queries. Candidates come
    * from [[bruteForceTopK]] here; swap in [[lshTopK]]/[[ivfTopK]] for
    * the ANN tier at corpus scale. Ties break by neighbor id, so the
    * selection is deterministic and engine-replayable. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 3, c: Int = 10,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && c >= k, "need c >= k >= 1")
    val vecs = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("vn"))
    // candidate generation inlined (not bruteForceTopK) so the MMR
    // arithmetic runs on UNROUNDED similarities end to end — mixing the
    // presentation-rounded sim with unrounded penalties would shift
    // every round-2+ score by up to 5e-5
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"), l2Norm(asDouble(col(vecCol))).as("qn"))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val cand0 = vecs.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qv"), col("v")) /
        nullif(col("qn") * col("vn"), lit(0.0)))
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") <= c)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("v"), col("vn"))
      // below-cosine-range sentinel, NOT 0.0: the redundancy penalty is
      // a MAX over selected-doc cosines and may legitimately be negative
      .withColumn("pen", lit(-2.0))
    // the candidate pool feeds every unrolled round — materialize once
    Caches.scoped(cand0) {
      var cands = cand0
      var picks = Vector.empty[DataFrame]
      (1 to k).foreach { r =>
        // round 1 scores λ·sim (the standard MMR value with an empty
        // selected set — the penalty term vanishes), NOT raw sim: the
        // pick is identical (monotone transform) but the reported
        // mmr_score column must be on ONE scale across ranks, or a
        // consumer thresholding on it sees rank 1 inflated by 1/λ
        val score = if (r == 1) col("sim") * lambda
          else col("sim") * lambda - col("pen") * (1 - lambda)
        val w = Window.partitionBy("query_id")
          .orderBy(score.desc, col("neighbor_id"))
        val pick = cands.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("query_id"), col("neighbor_id"),
            round(score, 4).as("mmr_score"), lit(r.toLong).as("mmr_rank"),
            col("v").as("sv"), col("vn").as("svn"))
        picks :+= pick
        if (r < k) {
          val sel = pick.select(col("query_id"),
            col("neighbor_id").as("sel_id"), col("sv"), col("svn"))
          cands = cands.join(sel, "query_id")
            .filter(col("neighbor_id") =!= col("sel_id"))
            .withColumn("pen", greatest(col("pen"),
              dot(col("v"), col("sv")) /
                nullif(col("vn") * col("svn"), lit(0.0))))
            .drop("sel_id", "sv", "svn")
        }
      }
      picks.map(_.select("query_id", "neighbor_id", "mmr_rank", "mmr_score"))
        .reduce(_.unionByName(_))
    }
  }

  /** Embedding near-duplicate pairs: cosine above threshold, LSH-blocked
    * (the embedding analog of [[Dedup.minhashDedupPairs]]). */
  /** Recall\@k of an approximate top-k against its brute-force truth —
    * the ONE recall computation every index family's gate shares
    * (v08 LSH, v13 IVF, IvfIndexSpec's serve path). Left join FROM
    * truth, so neighbors the approximate index missed count as misses;
    * both sides are k rows per query, trivially broadcastable at any
    * corpus size. Inputs need (query_id, neighbor_id). */
  def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(round(sum(coalesce(col("__hit"), lit(0))).cast("double") /
        count(lit(1)), 4).as("recall"))

  /** Mutual-kNN edges from ANY per-query top-k table (query_id,
    * neighbor_id, ...): the edge (a, b) survives iff a sits in b's
    * top-k AND b in a's — the standard symmetrization that turns a
    * directed kNN list into the graph whose connected components are
    * embedding clusters (no k to choose, unlike k-means; hubs don't
    * absorb everything, unlike single-threshold near-dup). Input-
    * agnostic on purpose: at oracle scale feed [[bruteForceTopK]], at
    * corpus scale the index-served lists ([[ivfServeTopK]] /
    * [[lshServeTopK]] / [[pqServeTopK]]) — the mutuality join is one
    * shuffle on the (query, neighbor) pair, never touching vectors. */
  def mutualKnnEdges(topk: DataFrame): DataFrame = {
    // scoped: the top-k lists feed BOTH sides of the mutuality join, and
    // they are the output of a full ANN search — self-joining the lazy
    // frame would execute that search twice (measured: the whole
    // corpus-scale kNN repeated, ~1.4 s at bench scale, a second full
    // index pass at 100 TB). The persisted intermediate is (query_id,
    // neighbor_id) pairs only — 16 bytes/row, |corpus|·k rows — and the
    // eager result released by scoped() is the even smaller edge set.
    val t = topk.select(col("query_id"), col("neighbor_id"))
    Caches.scoped(t) {
      t.join(t.select(col("neighbor_id").as("query_id"),
          col("query_id").as("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .filter(col("query_id") < col("neighbor_id"))
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
    }
  }

  /** Margin-based cross-corpus pair mining (Artetxe & Schwenk, ACL'19 —
    * the bitext-mining score behind the LASER/CCMatrix pipelines):
    * margin(x, y) = cos(x, y) / ((avg cos of x's kNN in `tgt` + avg cos
    * of y's kNN in `src`) / 2), computed over the LSH multi-probe
    * candidate tier in BOTH directions ([[lshTopK]] twice — bucket-
    * bounded, never |src|·|tgt|), keeping per src vector its single
    * best-margin tgt match at `threshold` or above. The ratio margin
    * normalizes away hubness: a pair only mines when it is mutually
    * exceptional relative to each side's own neighborhood density,
    * which plain cosine thresholds get wrong in high dimensions.
    *
    * Determinism discipline: the kNN sims enter the denominators
    * 4dp-rounded (exactly [[cosineRank]]'s output) and are summed as
    * DECIMAL(38,4) — an exact, order-free sum — so the rounded margin
    * is a pure IEEE function of bit-identical operands on any partition
    * layout and in the DuckDB oracle alike. Ranking is on the ROUNDED
    * margin with a tgt-id tie-break for the same reason. */
  def marginMining(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int, threshold: Double, numPlanes: Int = 8,
      dim: Int = 64, seed: Long = 42L, numBuckets: Long = 0L): DataFrame = {
    // cross-corpus searches keep equal-id pairs (excludeSelf=false):
    // src and tgt are different corpora, and with both numbered 0..N-1
    // (the normal parallel-corpus layout) the aligned pair (i, i) is
    // typically the true translation — the self-exclusion built for
    // self-kNN would silently discard every diagonal pair
    val fwd = lshTopK(tgt, src, idCol, vecCol, k, numPlanes, dim, seed,
      excludeSelf = false, numBuckets = numBuckets)
    val bwd = lshTopK(src, tgt, idCol, vecCol, k, numPlanes, dim, seed,
      excludeSelf = false, numBuckets = numBuckets)
    // both deg computations ride the query_id partitioning the rank
    // window inside lshTopK just established: the fwd average attaches
    // as a whole-partition window (no exchange, no self-join) and the
    // bwd groupBy reuses its partitioning, so the only new exchange in
    // the whole margin stage is re-keying the fwd pairs by tgt_id
    val wq = Window.partitionBy("query_id")
    val fwdDeg = fwd.withColumn("deg_src",
      sum(col("sim").cast("decimal(38,4)")).over(wq).cast("double") /
        count(lit(1)).over(wq))
    val bwdDeg = bwd.groupBy(col("query_id").as("tgt_id"))
      .agg((sum(col("sim").cast("decimal(38,4)")).cast("double") /
        count(lit(1))).as("deg_tgt"))
    val scored = fwdDeg
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("sim"), col("deg_src"))
      .join(bwdDeg, "tgt_id")
      .withColumn("margin", round(col("sim") /
        nullif((col("deg_src") + col("deg_tgt")) / 2.0, lit(0.0)), 4))
    val best = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id"))
    scored.withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1 && col("margin") >= threshold)
      .select(col("src_id"), col("tgt_id"), col("sim"), col("margin"))
  }

  /** Per-vector kNN label agreement (the confident-learning label-noise
    * audit, Northcutt '21 flavor): each vector's purity is the fraction
    * of its k nearest neighbors sharing its label — purity near the
    * random baseline 1/|labels| means the labels carry no embedding-
    * space signal; an isolated low-purity vector in an otherwise pure
    * corpus is a mislabeling candidate. Neighbor lists come from the
    * LSH multi-probe tier (bucket-bounded self-kNN — the only scalable
    * shape, per [[mutualKnnEdges]]'s rationale); labels attach by two
    * id-keyed equi-joins that shuffle (id, label) pairs only, never
    * vectors. purity = same/|nbrs| is integer math, engine-exact. */
  def knnLabelAgreement(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, numPlanes: Int = 8, dim: Int = 64,
      seed: Long = 42L, numBuckets: Long = 0L): DataFrame = {
    val labels = vecs.select(col(idCol).as("__lid"), col(labelCol).as("__l"))
    lshTopK(vecs, vecs, idCol, vecCol, k, numPlanes, dim, seed,
        numBuckets = numBuckets)
      .join(labels.select(col("__lid").as("query_id"), col("__l").as("label")),
        "query_id")
      .join(labels.select(col("__lid").as("neighbor_id"),
        col("__l").as("nbr_label")), "neighbor_id")
      .groupBy(col("query_id").as("id"), col("label"))
      .agg(count(lit(1)).as("n_nbrs"),
        round(sum(when(col("nbr_label") === col("label"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("purity"))
  }

  /** Embedding near-dup pairs via one LSH bucket self-join, with the
    * same hot-bucket guard as the text dedups ([[Dedup.withBucketStats]]
    * rationale): a bucket holding more than `maxBucket` vectors (a
    * near-identical embedding family — re-encoded boilerplate) degrades
    * from the exact clique to the representative star, every emitted
    * pair still cosine-verified. Honest buckets stay exact; the recall
    * trade inside an overflowed bucket is rep-edge-only, per the
    * withBucketStats docstring. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numPlanes: Int = 8, dim: Int = 64,
      seed: Long = 42L, maxBucket: Int = Dedup.DefaultMaxBucket,
      numBuckets: Long = 0L): DataFrame = {
    require(maxBucket >= 1, s"maxBucket ($maxBucket) must be >= 1")
    // cached for the self-join (signature lineage runs once, not twice),
    // released on return; per-row norms so each candidate pair pays one
    // dot product
    val w = Window.partitionBy("bucket")
    val c = Caches.spreadByKey(corpus, col(idCol))
      .select(col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"), l2Norm(asDouble(col(vecCol))).as("n"),
        foldBucket(lshBucket(col(vecCol), numPlanes, dim, seed), numBuckets)
          .as("bucket"))
      .withColumn("__bsz", count(lit(1)).over(w))
      .withColumn("__rep", min(struct(col("id"), col("v"), col("n"))).over(w))
    Caches.scoped(c) {
      def simOf(av: Column, an: Column, bv: Column, bn: Column) =
        dot(av, bv) / nullif(an * bn, lit(0.0))
      val small = c.filter(col("__bsz") <= maxBucket)
      val clique = small.as("a").join(small.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .withColumn("sim",
          simOf(col("a.v"), col("a.n"), col("b.v"), col("b.n")))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
      val star = c
        .filter(col("__bsz") > maxBucket && col("id") =!= col("__rep.id"))
        .withColumn("sim",
          simOf(col("__rep.v"), col("__rep.n"), col("v"), col("n")))
        .select(col("__rep.id").as("id_a"), col("id").as("id_b"), col("sim"))
      clique.unionByName(star)
        .filter(col("sim") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
    }
  }
}
