package graft.operators

import graft.operators.Caches.EagerOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * md5-portable SimHash, exact n-gram Jaccard (prefix-filtered) and
  * containment, span/fingerprint detection, and connected-component
  * clustering — one implementation per capability. Expression-level
  * twins of the native aggregates live with the specs that compare
  * against them.
  *
  * Scale posture (the part that matters at 100 TB):
  *  - every stage is a native-expression projection or a key-partitioned
  *    shuffle — no driver-side collection, no UDFs;
  *  - candidate generation is LSH-bucketed so the only self-join runs on
  *    (band, bucket) keys, never all-pairs;
  *  - signatures are fixed-width arrays of longs (64 hashes ≈ 512 B/doc),
  *    so the shuffle volume is signature-sized, not document-sized.
  */
object Dedup {

  // ---- exact ----

  /** Exact dedup: one survivor (min id) per normalized-text fingerprint.
    * Hash-partitioned group-by; partial aggregation makes the shuffle
    * carry one row per (fingerprint, partition). NULL-text docs get a
    * per-doc sentinel (the [[collapsedDupClusters]] guard): a null
    * fingerprint would otherwise group every null-text doc into one
    * fake dup family and "dedup" away unrelated documents. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(coalesce(TextFns.fingerprint(col(textCol)),
        concat(lit("__null__:"), col(idCol).cast("string"))).as("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  // ---- MinHash + LSH ----

  /** Word k-shingles, distinct. Short docs (< k tokens) fall back to the
    * whole token array as one shingle so they still get a signature. */
  def shingles(textCol: Column, k: Int = 3): Column = {
    // let-binding via a 1-element outer transform: higher-order lambdas
    // are interpreted and re-evaluate subtrees embedded in the lambda
    // body PER ELEMENT — `slice(tokens(text), i, k)` would re-run the
    // full regex tokenize for every shingle, O(n_grams × |text|) per
    // doc. Binding the token array to a lambda variable evaluates the
    // tokenize exactly once; the inner lambda's slice then reads the
    // bound array at O(k).
    val toksOnce = array(TextFns.tokens(textCol))
    array_distinct(flatten(transform(toksOnce, ts =>
      when(size(ts) < k, array(concat_ws(" ", ts)))
        .otherwise(transform(
          sequence(lit(1), size(ts) - lit(k - 1)),
          i => concat_ws(" ", slice(ts, i, lit(k))))))))
  }

  /** Hashed shingle sets: distinct xxhash64 of each shingle — 8-byte
    * longs instead of ~20-char strings, so downstream signature explodes
    * and verification intersects move fixed-width integers. Jaccard on
    * the hashed sets equals jaccard on the string sets up to 64-bit
    * collision odds (~1e-15 per pair at 300 shingles/doc).
    *
    * Computed by the native [[graft.functions.ShingleHashes]] expression
    * (single tokenize, reused shingle buffer, no intermediate string
    * array); DedupSpec checks it elementwise against the composed
    * `array_distinct(transform(shingles, xxhash64))` form. */
  def hashedShingles(textCol: Column, k: Int = 3): Column =
    graft.functions.ShingleHashes(textCol, k)

  /** MinHash signatures over a prepared (id, hs: array<long>)
    * hashed-shingle frame: explode to (id, h) rows and take `numHashes`
    * seeded minima `min(xxhash64(i, h))` in one map-side-combined
    * groupBy(id) (Broder '97 single-hash-family minhash). The native
    * single-buffer aggregate [[graft.functions.MinHashSigAgg]] runs one
    * tight per-row lane loop instead of `numHashes` aggregate buffers;
    * DedupSpec checks it bit for bit against the 64-aggregate form. */
  def signaturesFromHashes(hs: DataFrame, numHashes: Int = 64): DataFrame =
    hs.select(col("id"), explode(col("hs")).as("h"))
      .groupBy("id")
      .agg(graft.functions.MinHashSigAgg.minhashSig(col("h"), numHashes).as("sig"))

  /** LSH banding: split the signature into `bands` bands of
    * numHashes/bands rows; docs sharing any band bucket are candidates.
    * With 64 hashes / 16 bands (r=4), the S-curve puts the match
    * threshold near jaccard ≈ (1/16)^(1/4) ≈ 0.5. */
  def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column = {
    // rowsPerBand = 0 (e.g. numHashes < bands upstream) would slice
    // empty arrays: every doc gets IDENTICAL band keys and the candidate
    // self-join degenerates to the all-pairs product LSH exists to avoid
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands ($bands) and rowsPerBand ($rowsPerBand) must be >= 1")
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sigCol, b * rowsPerBand + 1, lit(rowsPerBand))))
  }

  /** Default per-(band, bucket) population cap for LSH candidate
    * generation — see [[withBucketStats]]. 1024 members is far above any
    * honest near-dup bucket on non-degenerate corpora (so small-scale
    * results stay EXACT pair enumerations) while bounding a degenerate
    * boilerplate bucket's clique cost at ~0.5M pairs instead of the
    * 10¹⁰+ a million-member template cluster would otherwise generate. */
  val DefaultMaxBucket: Int = 1024

  /** Annotate exploded (id, band, bucket, ...) rows with the bucket's
    * population (`__bsz`) and its representative (`__rep` = the struct
    * minimum, i.e. lowest id and that row's carried flags). One window
    * shuffle on (band, bucket) — the SAME key the candidate self-join
    * uses, so the join downstream reuses the partitioning.
    *
    * This is the hot-bucket guard: a real web corpus has boilerplate
    * clusters of 10⁴-10⁶ near-identical documents whose members share
    * EVERY band bucket, so un-capped clique generation degenerates to
    * |cluster|² pairs per band — the classic MinHash blowup. Buckets at
    * or under `maxBucket` keep the exact clique; buckets above it fall
    * back to the STAR around the representative (every member pairs with
    * the bucket's min id): candidate volume linear in bucket size, and
    * every emitted pair still passes exact Jaccard verification, so
    * precision is unaffected.
    *
    * The recall trade, precisely: inside an overflowed bucket only
    * rep–member pairs are enumerated, so a member stays connected to
    * the component iff its Jaccard TO THE REPRESENTATIVE clears the
    * threshold — a fringe member whose member–member edges would have
    * passed can drop out if its rep edge fails. In practice overflowed
    * buckets are near-identical template families (that is WHY they
    * overflowed) where rep similarity ≈ 1; for the exact-duplicate case
    * the guarantee is absolute when [[collapsedDupClusters]] pre-folds
    * identical texts (Jaccard = 1 edges can't fail). Corpora where this
    * residual matters should raise `maxBucket`, not disable the cap. */
  private def withBucketStats(exploded: DataFrame,
      repCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("band", "bucket")
    exploded
      .withColumn("__bsz", count(lit(1)).over(w))
      .withColumn("__rep",
        min(struct((col("id") +: repCols.map(col)): _*)).over(w))
  }

  /** The clique ∪ star candidate union over a [[withBucketStats]] frame:
    * exact pair clique for buckets ≤ `maxBucket`, representative star
    * above it. Emits (id_a < id_b), distinct. */
  private def cappedCliqueAndStar(sized: DataFrame, maxBucket: Int): DataFrame = {
    val small = sized.filter(col("__bsz") <= maxBucket)
    val clique = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val star = sized
      .filter(col("__bsz") > maxBucket && col("id") =!= col("__rep.id"))
      // the representative is the bucket MIN id, so (rep, id) is ordered
      .select(col("__rep.id").as("id_a"), col("id").as("id_b"))
    clique.unionByName(star).distinct()
  }

  /** MinHash near-dup pairs, verified: candidates from LSH, then exact
    * Jaccard over the hashed shingle sets, keep pairs ≥ threshold. The
    * hashed-shingle frame (longs, not strings) is cached once, feeds the
    * signature aggregation AND both verification probes, and is released
    * before returning. The output is brute-force oracle-checkable:
    * verification makes precision exact, and banding (16 bands × 4 rows
    * by default) makes recall a fixed deterministic property of the
    * corpus — every missed-pair probability is < 4e-8 at jaccard ≥ 0.9. */
  def minhashDedupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, k: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)" +
        " — a fractional band would silently drop signature lanes")
    require(maxBucket >= 1, s"maxBucket ($maxBucket) must be >= 1")
    val hs = Caches.spreadByKey(docs, col(idCol)).select(col(idCol).as("id"),
      hashedShingles(col(textCol), k).as("hs"))
    // the shingle frame AND the sized band rows share ONE cache scope —
    // a single eager materialization instead of nested ones
    val sized = withBucketStats(signaturesFromHashes(hs, numHashes)
      .select(col("id"),
        posexplode(bandKeys(col("sig"), bands, numHashes / bands))
          .as(Seq("band", "bucket"))))
    Caches.scoped(hs, sized) {
      verifyJaccardPairs(cappedCliqueAndStar(sized, maxBucket), hs, threshold)
    }
  }

  /** Exact-Jaccard verification of (id_a, id_b) candidate pairs against
    * an (id, hs) hashed-shingle frame — the shared precision stage of
    * [[minhashDedupPairs]], [[incrementalMinhashPairs]] and
    * [[ngramJaccardPairs]]. */
  private def verifyJaccardPairs(cands: DataFrame, hs: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(hs.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(hs.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
      // |A∪B| = |A|+|B|-|A∩B| (shingle arrays are distinct) — one array
      // op per pair instead of two
      .withColumn("__i", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("__j", col("__i").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("__i")))
      // threshold on the UNROUNDED value (rounding first would admit
      // pairs up to 5e-5 below it); round only for presentation
      .filter(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__j"), 4).as("jaccard"))

  /** Incremental MinHash dedup — the daily-increment shape: near-dup
    * pairs touching a NEW document (new×corpus and new×new), never
    * re-pairing the settled corpus with itself. The band join probes
    * with only the new side's band rows, so the incremental cost is
    * |new bands| × (bucket hit sizes), independent of |corpus|² — at a
    * 100 TB corpus with a 0.1% daily increment that is the difference
    * between a feasible nightly job and a full re-dedup. Semantics:
    * exactly [[minhashDedupPairs]]'s verified pairs restricted to those
    * with at least one endpoint satisfying `newPred`. */
  def incrementalMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
      newPred: Column, threshold: Double = 0.7, k: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    require(maxBucket >= 1, s"maxBucket ($maxBucket) must be >= 1")
    val hs = Caches.spreadByKey(docs, col(idCol)).select(col(idCol).as("id"),
      newPred.as("is_new"), hashedShingles(col(textCol), k).as("hs"))
    val sized = withBucketStats(
      signaturesFromHashes(hs.select("id", "hs"), numHashes)
        .join(hs.select("id", "is_new"), "id")
        .select(col("id"), col("is_new"),
          posexplode(bandKeys(col("sig"), bands, numHashes / bands))
            .as(Seq("band", "bucket"))),
      repCols = Seq("is_new"))
    Caches.scoped(hs, sized) {
      // probe with the increment only; both orders arrive (new×old and
      // old×new), canonicalized by least/greatest then distinct'd
      val small = sized.filter(col("__bsz") <= maxBucket)
      val clique = small.filter(col("is_new")).as("a")
        .join(small.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.id") =!= col("b.id"))
        .select(least(col("a.id"), col("b.id")).as("id_a"),
          greatest(col("a.id"), col("b.id")).as("id_b"))
      // hot buckets: representative star, restricted to edges with at
      // least one NEW endpoint (the operator's contract)
      val star = sized
        .filter(col("__bsz") > maxBucket && col("id") =!= col("__rep.id") &&
          (col("is_new") || col("__rep.is_new")))
        .select(col("__rep.id").as("id_a"), col("id").as("id_b"))
      verifyJaccardPairs(clique.unionByName(star).distinct(),
        hs.select("id", "hs"), threshold)
    }
  }

  /** Benchmark decontamination — the train/eval overlap sweep every
    * corpus build runs before training: find train documents sharing at
    * least `minShared` distinct k-gram shingles with ANY eval document
    * (the n-gram-collision rule used for benchmark leakage checks).
    *
    * Shape: inverted-index equi-join on the shingle — eval-side postings
    * only (the eval set is benchmark-sized, so the index is tiny and
    * broadcastable; AQE decides), train side streams. Never all-pairs.
    * `hashed = true` (default) joins on 64-bit shingle hashes — 8-byte
    * keys at corpus scale; `hashed = false` joins on the shingle strings
    * (bit-identical cross-engine, used by the oracle twin). */
  def contaminatedDocs(docs: DataFrame, idCol: String, textCol: String,
      evalPred: Column, k: Int = 5, minShared: Long = 1L,
      hashed: Boolean = true): DataFrame =
    contaminationSweep(docs, idCol, textCol, evalPred, k, minShared,
      hashed, prefilter = (_, train) => train)

  /** The shared contamination body: shingle explode (cached for both
    * probes), eval-side postings, exact join, per-doc distinct counts.
    * `prefilter(ev, train)` may prune the train side BEFORE the join
    * (the [[bloomContaminatedDocs]] hook) — it must never drop a row
    * that would join (no false negatives), or the two public operators'
    * documented equivalence breaks. */
  private def contaminationSweep(docs: DataFrame, idCol: String,
      textCol: String, evalPred: Column, k: Int, minShared: Long,
      hashed: Boolean,
      prefilter: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val shCol = if (hashed) hashedShingles(col(textCol), k)
      else shingles(col(textCol), k).cast("array<string>")
    // coalesce(pred, false): a NULL predicate row (e.g. source IS NULL
    // under `source === "mmlu"`) would otherwise fail BOTH filters below
    // — excluded from the eval index AND from the train probe — so a
    // contaminated train doc could silently screen as clean. Null means
    // "not an eval doc": it stays on the train side and gets checked
    // (the Tfidf.incrementalCosinePairs guard, applied to the one
    // operator where a recall hole is eval leakage into training).
    val sh = Caches.spreadByKey(docs, col(idCol))
      .select(col(idCol).as("id"),
        coalesce(evalPred, lit(false)).as("is_eval"),
        explode(shCol).as("s"))
    // both probes (eval filter + train filter) consume the expensive
    // corpus-wide shingle explode — cache it for the operator's scope
    Caches.scoped(sh) {
      val ev = sh.filter(col("is_eval"))
        .select(col("s"), col("id").as("eval_id"))
      // shingles are distinct per doc, but one train shingle can meet
      // several eval docs — distinct counts on both axes, reshaped
      // unpivot-first + ONE distinct (the g11 lesson): a
      // multi-count-distinct plans an Expand whose group order follows
      // the session-global expression-id counter and re-dirties plan
      // snapshots whenever unrelated queries move the counter. Axis 0 =
      // shared shingle, 1 = eval doc; same two exchanges either way.
      // the unpivoted value stays the NATIVE key type — 8-byte longs on
      // the hashed path (ShuffleWidthSpec gates the distinct exchange's
      // width; stringifying would fatten every row); only the unhashed
      // debug variant pays a string lane
      val unify: Column => Column =
        if (hashed) identity else (_.cast("string"))
      prefilter(ev, sh.filter(!col("is_eval")))
        .join(ev, "s")
        .select(col("id"), explode(array(
            struct(lit(0).as("axis"), unify(col("s")).as("value")),
            struct(lit(1).as("axis"),
              unify(col("eval_id")).as("value")))).as("kv"))
        .select(col("id"), col("kv.axis").as("axis"),
          col("kv.value").as("value"))
        .distinct()
        .groupBy(col("id").as(idCol))
        .agg(count(when(col("axis") === 0, lit(1))).as("n_shared_shingles"),
          count(when(col("axis") === 1, lit(1))).as("n_eval_docs"))
        .filter(col("n_shared_shingles") >= minShared)
    }
  }

  /** [[contaminatedDocs]] with a Bloom pre-filter on the corpus side:
    * the eval set's shingles build a [[Bloom]] bitset (broadcast-sized
    * index artifact, built once at call time); train shingles probe it
    * BEFORE the join, so the contamination shuffle carries only
    * probable hits instead of the whole corpus's shingles. Bloom
    * filters have no false negatives, so the exact join downstream
    * returns EXACTLY [[contaminatedDocs]]'s rows — same oracle, pruned
    * shuffle. At 100 TB this is the difference between shuffling every
    * document's n-grams and shuffling only the ~|eval|-correlated
    * sliver (runtime row-level filtering, done declaratively). */
  def bloomContaminatedDocs(docs: DataFrame, idCol: String, textCol: String,
      evalPred: Column, k: Int = 5, minShared: Long = 1L,
      nWords: Int = 1024, nProbes: Int = 3): DataFrame =
    contaminationSweep(docs, idCol, textCol, evalPred, k, minShared,
      hashed = false,
      prefilter = { (ev, train) =>
        // bloom build runs at call time (index-artifact pattern); no
        // false negatives, so the pruned join keeps exact semantics
        val bits = Bloom.buildBits(ev, col("s"), nWords, nProbes)
        train.filter(Bloom.mightContain(bits, col("s")))
      })

  /** Duplicated-substring span detection (the signal behind
    * suffix-array dedup, Lee et al. '21 "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499): for every doc
    * pair, the longest run of CONSECUTIVE shared k-grams — i.e. the
    * longest verbatim token span the two documents share (run of r
    * consecutive shared k-grams = span of r+k-1 tokens). Pairs are
    * generated by the k-gram inverted-index join (k=5 grams are
    * near-unique in natural text, so per-gram fan-out is bounded where
    * single tokens would degenerate); runs are recovered with the
    * gaps-and-islands window on the match diagonal (pos_a - pos_b):
    * matches on one diagonal with consecutive pos_a form one island,
    * islands keyed by pos_a - row_number. Every stage is a
    * key-partitioned shuffle — (gram) for the join, (pair, diag) for
    * the window — never all-pairs, no driver state.
    *
    * `hotDf` is the 100 TB safety valve on the one join that could
    * degenerate: a gram appearing in D documents seeds D² diagonal
    * matches, so a boilerplate gram shared by 10⁴+ docs would go
    * quadratic exactly like an uncapped LSH bucket. With a cap, only
    * grams with df ≤ hotDf seed matches: a duplicated run then
    * detects as its maximal stretches of sub-cap grams — runs made
    * ENTIRELY of ubiquitous boilerplate (t13's territory) drop, runs
    * merely crossing one hot gram split/shorten by at most the hot
    * stretch (DedupSpec pins both fates). The default leaves the
    * exact semantics (and the default plan) untouched.
    *
    * Returns (id_a, id_b, max_span) for pairs sharing a span of at
    * least `minSpan` tokens. */
  /** Positional k-gram sequence (index i holds the gram starting at
    * token i+1) — shared by [[dupSpans]] and [[winnowFingerprints]],
    * whose short-doc fallbacks differ (empty vs whole-text) and stay at
    * the caller. Callers must guard `size(toks) >= k`: sequence(1, 0)
    * DESCENDS ([1, 0]). */
  private def gramSeq(toks: Column, k: Int): Column =
    transform(sequence(lit(1), size(toks) - lit(k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k))))

  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minSpan: Int = 20,
      hotDf: Int = Int.MaxValue): DataFrame = {
    val grams = gramPostings(docs, idCol, textCol, k)
    // the tokenize+posexplode lineage feeds BOTH sides of the self-join —
    // materialize it once for the operator's scope
    Caches.scoped(grams) {
      val matches = gramDiagMatches(grams, hotDf)
      val wIsl = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
      matches
        .withColumn("run_id", col("pa") - row_number().over(wIsl))
        .groupBy("id_a", "id_b", "diag", "run_id")
        .agg((count(lit(1)) + lit(k - 1)).as("span"))
        .groupBy("id_a", "id_b")
        .agg(max(col("span")).as("max_span"))
        .filter(col("max_span") >= minSpan)
    }
  }

  /** Duplicate-span REMOVAL — the transform half of [[dupSpans]]
    * (Lee et al. '21 deduplicate *by deleting* one occurrence, not by
    * dropping documents): every cross-doc duplicated token run of at
    * least `minSpan` tokens is cut from the LATER document (higher id —
    * the earliest occurrence survives, the deterministic keep rule),
    * overlapping cuts are merged, and the text is rebuilt from the
    * surviving tokens.
    *
    * Pipeline: the [[dupSpans]] gram-diagonal islands, kept WITH their
    * positions on the later side (pb = pa − diag) → per-doc interval
    * merge (the q60 islands pattern: running max over (s, e), new
    * island when s jumps past it) → one per-doc array rebuild with
    * higher-order functions (no token explode on the rebuild side — a
    * doc's spans ride along as one array column). Shuffles: the gram
    * join on xxhash64 keys, the island window on (pair, diag), the
    * merge window on the doc id — all fixed-width.
    *
    * Returns only AFFECTED documents: (id, n_spans, tokens_removed,
    * clean_text). Clean text is canonical single-space joined — the
    * same normalization [[TextFns.tokens]] applied on the way in. */
  /** Drop match-seeding grams above the df cap — [[dupSpans]]'s
    * quadratic-join valve; identity at the default (no df pass, plan
    * unchanged). df is DOCUMENT frequency (distinct docs containing the
    * gram — what the D² blowup is actually proportional to), not
    * occurrence count: a gram repeated 5000× inside ONE repetitive doc
    * has df 1 and must keep seeding its genuine cross-doc spans. */
  /** Positional k-gram postings (id, p, g) — the shared front half of
    * [[dupSpans]] and [[scrubDupSpans]] (one copy so a fix to the match
    * pipeline can't drift between detector and scrubber). <k-token docs
    * produce an EMPTY gram array, not a whole-text fallback: a
    * fabricated gram would report a span of k tokens from documents
    * that don't contain k tokens. Grams join on their xxhash64, not the
    * string: the inverted-index shuffle moves 8-byte longs instead of
    * ~25-char text (the d04 hashed-shingle argument — equal up to
    * 64-bit collision odds, and a colliding gram pair would only ever
    * ADD a spurious 1-gram match on some diagonal, not break a run). */
  private def gramPostings(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // materialize the token array ONCE per row in its own projection:
    // higher-order lambdas are interpreted (CodegenFallback) and
    // re-evaluate subtrees embedded in the lambda body PER ELEMENT —
    // gramming directly over the tokenize EXPRESSION re-runs the regex
    // split of the whole text for every gram, O(n_grams × |text|) per
    // document (measured: a 1M-token doc effectively never finishes).
    // A bound column is an O(1) attribute read per lambda call, and the
    // explode boundary keeps the optimizer from inlining the split back.
    val withToks = Caches.spreadByKey(docs, col(idCol))
      .select(col(idCol).as("id"),
        TextFns.tokens(col(textCol)).as("__toks"))
    val toks = col("__toks")
    val gramArr = when(size(toks) >= k, gramSeq(toks, k))
      .otherwise(array().cast("array<string>"))
    withToks
      .select(col("id"), posexplode(gramArr))
      .select(col("id"), (col("pos") + 1).as("p"), xxhash64(col("col")).as("g"))
  }

  /** Cross-doc gram matches with their diagonal (id_a, id_b, pa, diag) —
    * the shared middle of [[dupSpans]]/[[scrubDupSpans]]. Repeated
    * k-grams inside one doc create duplicate (pair, diag, pa) matches —
    * distinct them or the island row_number miscounts runs. */
  private def gramDiagMatches(grams: DataFrame, hotDf: Int): DataFrame = {
    val seeds = hotGramFilter(grams, hotDf)
    seeds.as("a").join(seeds.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.p").as("pa"), (col("a.p") - col("b.p")).as("diag"))
      .distinct()
  }

  private def hotGramFilter(grams: DataFrame, hotDf: Int): DataFrame =
    if (hotDf == Int.MaxValue) grams
    else {
      require(hotDf >= 1, s"hotDf ($hotDf) must be >= 1")
      grams.join(
        grams.select("g", "id").distinct()
          .groupBy("g").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= hotDf).select("g"), "g")
    }

  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minSpan: Int = 20,
      hotDf: Int = Int.MaxValue): DataFrame = {
    // a span is at least one whole gram; minSpan < k would ask for
    // runs shorter than the detector's resolution
    require(k >= 1 && minSpan >= k,
      s"minSpan ($minSpan) must be >= k ($k)")
    val toks = TextFns.tokens(col(textCol))
    val grams = gramPostings(docs, idCol, textCol, k)
    val merged = Caches.scoped(grams) {
      val matches = gramDiagMatches(grams, hotDf)
      val wIsl = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
      val cuts = matches
        .withColumn("run_id", col("pa") - row_number().over(wIsl))
        .groupBy("id_a", "id_b", "diag", "run_id")
        .agg(count(lit(1)).as("cnt"), min(col("pa")).as("pa_min"))
        .filter(col("cnt") + lit(k - 1) >= minSpan)
        // positions on the LATER (kept-from, id_b) side
        .select(col("id_b").as("id"),
          (col("pa_min") - col("diag")).as("s"), col("cnt"))
        .withColumn("e", col("s") + col("cnt") + lit(k - 2))
        .select("id", "s", "e").distinct()
      val wDoc = Window.partitionBy("id").orderBy("s", "e")
      val prevMax = max(col("e"))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, -1))
      cuts
        .withColumn("isl",
          when(col("s") > coalesce(prevMax, lit(Long.MinValue)), 1)
            .otherwise(0))
        .withColumn("gid", sum(col("isl"))
          .over(wDoc.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("id", "gid")
        .agg(min("s").as("s0"), max("e").as("e0"))
        .groupBy("id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e0") - col("s0") + 1).as("tokens_removed"),
          sort_array(collect_list(struct(col("s0"), col("e0")))).as("sp"))
    }
    // the merged side's key is renamed first: with idCol literally
    // "id", an unqualified col("id") in the join condition (and the
    // final select) would be an ambiguous reference and analysis fails
    docs.join(merged.withColumnRenamed("id", "__scrub_id"),
        col(idCol) === col("__scrub_id"))
      .withColumn("__toks", toks)
      .withColumn("__kept", filter(
        zip_with(col("__toks"),
          sequence(lit(1L), size(col("__toks")).cast("long")),
          (t, i) => struct(t.as("t"), i.as("i"))),
        p => !exists(col("sp"),
          sp => p("i") >= sp("s0") && p("i") <= sp("e0"))))
      .select(col("__scrub_id").as("id"), col("n_spans"),
        col("tokens_removed"),
        concat_ws(" ", transform(col("__kept"), p => p("t")))
          .as("clean_text"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS scheme): hash every k-gram, slide a window of
    * `w` consecutive gram hashes, and select each window's minimum —
    * the guarantee is that any shared substring of length ≥ w+k-1
    * tokens contributes at least one IDENTICAL selected fingerprint to
    * both documents, at ~2/(w+1) of the grams stored. The selection is
    * one window-min pass: (hash, position) pairs are encoded into a
    * single orderable long (hash·2²⁰ + pos) so the frame min carries
    * the tie-break (lowest hash, then leftmost position) without a
    * struct ordering; per-doc windows mean the only shuffle is the
    * partitionBy(doc) sort — fingerprint SETS, not documents, are what
    * downstream plagiarism/near-dup joins move.
    *
    * Hashes are md5-digit derived (16 bits here — collision-tolerant by
    * design for fingerprint sets) so any engine can replay the exact
    * selection; the 2²⁰ position radix caps docs at ~1M grams, a
    * per-document bound (not a corpus bound) that holds for any
    * chunked/pre-split corpus. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    // token array hoisted into its own projection — the gramPostings
    // per-element-recompute fix; see the comment there
    val withToks = Caches.spreadByKey(docs, col(idCol))
      .select(col(idCol).as("id"),
        TextFns.tokens(col(textCol)).as("__toks"))
    val toks = col("__toks")
    // short docs still get a fingerprint (the [[shingles]] convention):
    // <k tokens fall back to one whole-text gram, and <w windows clamp
    // to a single window over whatever grams exist — otherwise 5-7
    // token docs would be invisible to every downstream overlap join
    val gramArr = when(size(toks) >= k, gramSeq(toks, k))
      .otherwise(array(concat_ws(" ", toks)))
    val radix = 1048576L // 2^20 position slots per doc
    val grams = withToks
      .select(col("id"), posexplode(gramArr))
      .select(col("id"), (col("pos") + 1).as("p"),
        conv(substring(md5(col("col")), 1, 4), 16, 10).cast("long").as("hx"))
    val wDoc = Window.partitionBy("id")
    val wFrame = Window.partitionBy("id").orderBy("p")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("ng", count(lit(1)).over(wDoc))
      // ENFORCE the 2^20 position radix (not just document it): a doc
      // past ~1M grams would bleed positions into the hash lanes of
      // hx·radix + p and silently corrupt the window-min selection —
      // fail fast instead, like simhashHalves enforces its token slice.
      // The guard rides the consumed `m` column so pruning can't drop it.
      .withColumn("m",
        when(col("ng") >= lit(radix), raise_error(lit(
          "winnowFingerprints: document exceeds 2^20 grams — chunk or " +
            "pre-split oversized documents first")).cast("long"))
          .otherwise(min(col("hx") * radix + col("p")).over(wFrame)))
      // full windows only — clamped to ≥1 so gram-poor docs keep their
      // single (truncated-window) selection
      .filter(col("p") <= greatest(col("ng") - (w - 1), lit(1)))
      .select(col("id").as(idCol), (col("m") % radix).as("fp_pos"),
        (col("m") / radix).cast("long").as("fp_hash"))
      .distinct()
  }

  // ---- near-dup clustering ----

  /** Connected components over a near-dup pair list → one cluster
    * representative (the component's min id) per document. This is what
    * a dedup pipeline actually consumes: pairs say "these two are dups",
    * the cluster id says "keep exactly this one".
    *
    * Pair ids absent from `docs` are INERT: they neither receive a label
    * nor bridge two components, so the labels are the components of the
    * pair graph induced on the doc ids.
    *
    * Two paths, identical labels (DedupSpec pins local ≡ forced
    * distributed on random, chain, star and clique shapes):
    *  - a bounded-small edge set whose endpoints are all doc ids
    *    finishes on the driver ([[localMinLabels]]) — near-dup pair
    *    graphs are sparse by construction, so this is the common case;
    *  - otherwise [[starClusters]] runs the O(log n) large-star/
    *    small-star rounds over the doc-id pairs, whatever the component
    *    diameter.
    *
    * Throws `IllegalStateException` if the rounds are still changing
    * the edge set after `maxRounds` — truncated rounds would silently
    * return SPLIT clusters (two labels for one component), and a dedup
    * pipeline acting on those would keep duplicates it believes it
    * removed. */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    val ids = docs.select(col(idCol).as("id"))
    // LAZY two-direction expansion: engine callers hand in an eagerly
    // materialized pair list, so the count and the local collect are
    // cheap scans of materialized blocks; checkpointing it again would
    // be one materialization job of pure overhead per query
    val edgesLazy = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val nEdges = edgesLazy.count()
    // the union-find transits pair ids absent from `docs`, so its labels
    // only stand when every edge endpoint is a doc id (the engine shape:
    // pair generators derive ids from the corpus) — probed by one count
    // against the bare id projection; any phantom endpoint falls back to
    // the rounds, which drop phantom pairs up front
    localMinLabels(edgesLazy, nEdges) match {
      case Some((lbl, nLbl)) =>
        val matched = ids
          .join(Caches.broadcastIfSmall(lbl, 2 * nEdges), Seq("id")).count()
        if (matched == nLbl)
          return ids
            .join(Caches.broadcastIfSmall(lbl, 2 * nEdges), Seq("id"), "left")
            .select(col("id").as(idCol),
              coalesce(col("__root"), col("id")).as("cluster_id"))
      case None => ()
    }
    val docPairs = pairs
      .join(ids.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(ids.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    starClusters(ids, idCol, docPairs, maxRounds)
  }

  /** Driver-side union-find finish for connected components whose edge
    * set is PROVABLY small — the standard two-phase CC shape (Kiveris
    * et al. §6 note it; every production CC pipeline ends this way):
    * the distributed machinery exists for edge sets that dwarf a
    * machine, but a near-dup pair graph is SPARSE by construction
    * (bucket-capped pair generation bounds candidates per doc), and
    * once the canonical edge count — already in hand from the
    * convergence bookkeeping — fits comfortably on the driver, running
    * O(rounds) more distributed jobs to converge is pure scheduling
    * overhead: a 2M-edge union-find is milliseconds against ~8 rounds
    * × ~8 jobs of cluster round trips (measured: the v23 component
    * phase was ~60 jobs at bench scale).
    *
    * BOUNDED BY CONSTRUCTION: gate + typed collect via the shared
    * [[Caches.boundedEdgeCollect]] funnel (cap conf
    * `spark.graft.cc.localFinishEdges`, honest memory math documented
    * there); the union-find parent map on top is boxed-Long keyed but
    * bounded by #nodes, not #edges. 0 disables, restoring the pure
    * distributed path — the spec pins local ≡ distributed. Above the
    * cap the caller's iterative loop runs unchanged — a 100 TB corpus
    * whose near-dup graph genuinely exceeds the driver keeps the
    * scale path.
    *
    * Labels are EXACTLY the distributed fixed point's: union always
    * attaches the larger root under the smaller, so every root is its
    * component's MINIMUM id, and path compression never changes roots.
    * Returns None when the gate (or a non-long id type) says
    * distributed; Some(labels (id, __root) — one row per node seen in
    * an edge, as a LocalRelation — with the node count) otherwise. */
  private def localMinLabels(edges: DataFrame,
      nEdges: Long): Option[(DataFrame, Long)] = {
    val spark = edges.sparkSession
    import spark.implicits._
    // gate + typed collect live in the shared funnel (honest memory
    // math documented there); the union-find below is this path's own
    val rows = Caches.boundedEdgeCollect(edges, nEdges,
      "spark.graft.cc.localFinishEdges") match {
      case Some(r) => r
      case None => return None
    }
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](
      2 * rows.length)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      if (p == null) { parent.put(x, x); return x }
      // path halving
      while (p.longValue != x) {
        val gp = parent.get(p.longValue)
        parent.put(x, gp)
        x = gp.longValue
        p = parent.get(x)
      }
      x
    }
    rows.foreach { r =>
      val ra = find(r._1)
      val rb = find(r._2)
      // larger root under smaller: the root IS the component min
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    val labels = parent.keySet.asScala.toSeq
      .map(k => (k.longValue, find(k.longValue)))
    Some((labels.toDF("id", "__root"), labels.size.toLong))
  }

  /** The distributed path of [[dupClusters]]: the large-star/small-star
    * alternation (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) over pairs whose endpoints are all in `ids`.
    * Min-label propagation pays one key-partitioned round per hop of
    * component diameter; this pays O(log n) rounds regardless of shape
    * (a 300-hop chain converges in ~9 rounds).
    *
    * Per round: large-star hangs every neighbor LARGER than a node onto
    * the minimum of that node's closed neighborhood; small-star re-hangs
    * the smaller neighbors (and the node) onto their minimum. Both are
    * one groupBy + one join on the node key, and the edge set provably
    * contracts to one star per component rooted at its minimum id. Only
    * the canonical (src < dst) edge set is checkpointed per round, so
    * lineage stays O(1); the undirected expansion each round consumes is
    * a shuffle-free union of two scans of that checkpoint. */
  private def starClusters(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int): DataFrame = {
    // (src, dst) BOTH directions — each star step processes full
    // neighborhoods keyed by src. The general form dedups: a star
    // step's output can contain (a, b) alongside (b, a), which the
    // union would double.
    def undirect(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    // Distinct-free twin for a CANONICAL (distinct, src < dst) input:
    // the forward scan emits only src < dst rows and the swapped scan
    // only src > dst rows, so the union is duplicate-free BY
    // CONSTRUCTION — per round this saves the hash exchange a
    // .distinct() would plan on the expanded edge set
    def undirectCanon(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // canonical ordered form, self-loops dropped; also the convergence
    // check's set
    def canon(e: DataFrame): DataFrame =
      e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst")).distinct()

    var prev = canon(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .eagerCheckpoint()
    var prevCount = prev.count()
    var round = 0
    var converged = prevCount == 0
    // round loop under iteration conf (AQE off, shuffle width sized
    // from the known canonical-edge count — the set only CONTRACTS
    // across rounds): each round's checkpoint + convergence probes run
    // as a handful of pipelined jobs instead of a stage-job + driver
    // re-plan per exchange per round. Scheduling only — identical
    // plans, identical labels.
    Caches.withIterationConf(ids.sparkSession, prevCount, bytesPerRow = 16L) {
    while (!converged && round < maxRounds) {
      val edges = undirectCanon(prev)
      // large-star: for (x, y>x) emit (y, min(Γ(x) ∪ {x}))
      // lMins is one row per distinct src ≤ 2·|canonical edges| — the
      // tracked prevCount bounds it, gating a broadcast that keeps the
      // (checkpoint-backed, sentinel-sized) edge set from re-shuffling
      val lMins = Caches.broadcastIfSmall(
        edges.groupBy("src").agg(min("dst").as("nmin")), 2 * prevCount)
      val large = edges.join(lMins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"),
          least(col("src"), col("nmin")).as("dst"))
      // round-local intermediate with two consumers — persist (lazy,
      // materialized inside the afterSmall job, dropped at round end)
      // rather than a checkpoint job of its own
      val afterLarge = undirect(large).persist()
      try {
        // small-star: for (x, y<x) emit (y, m) and (x, m), m = min(y's)
        val small = afterLarge.filter(col("dst") < col("src"))
        // only the join's copy carries the broadcast hint: the union
        // branch is no join, so a hint there is dropped with a warning
        val sMins = small.groupBy("src").agg(min("dst").as("nmin"))
        val afterSmall = canon(
          small.join(Caches.broadcastIfSmall(sMins, 2 * prevCount), "src")
            .select(col("dst").as("src"), col("nmin").as("dst"))
            .unionByName(sMins.select(col("src"), col("nmin").as("dst"))))
          .eagerCheckpoint()
        // both sides are distinct() sets, so |A| = |B| ∧ A\B = ∅ ⇒
        // equal — and the except job only runs once counts agree
        val n = afterSmall.count()
        converged = n == prevCount && afterSmall.exceptAll(prev).isEmpty
        // last round's canonical set is superseded once the convergence
        // check has run — release it eagerly
        Caches.release(prev)
        prev = afterSmall
        prevCount = n
      } finally afterLarge.unpersist()
      round += 1
    }
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxRounds rounds — " +
          "labels would be split. Raise maxRounds.")
    // fixed point = one star per component, rooted at the component min
    ids.join(prev.select(col("dst").as("id"), col("src").as("root")),
        Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Near-dup clustering with EXACT-dedup pre-collapse — the scale-safe
    * composition for boilerplate-heavy corpora: collapse identical
    * (normalized) documents to one representative per fingerprint FIRST,
    * run MinHash+LSH+clustering over representatives only, then expand
    * each member to its representative's cluster.
    *
    * Semantics are identical to `dupClusters(docs, minhashDedupPairs(
    * docs, ...))`: fingerprint equality ([[graft.functions.TextFns
    * .fingerprint]], whitespace-normalized lowercased text) implies
    * token equality, hence identical shingle sets, hence Jaccard = 1 —
    * so an exact-dup group is a clique in the full near-dup graph and
    * collapsing it cannot change any component. The component min-id is
    * also preserved: the representative IS its group's min id, so the
    * min over representatives in a component equals the min over all
    * members. Asserted equal to the uncollapsed form in DedupSpec.
    *
    * Why it matters at 100 TB: a 10⁶-copy template family puts 10⁶ rows
    * in the SAME bucket of every band; the [[withBucketStats]] cap
    * bounds that blowup, but pre-collapse removes it entirely (the
    * family enters LSH as ONE row) and shrinks every downstream stage —
    * signatures, band rows, verification — to the distinct-text corpus. */
  def collapsedDupClusters(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxBucket: Int = DefaultMaxBucket,
      maxRounds: Int = 20): DataFrame = {
    // NULL-text docs must come out as singletons exactly like the
    // uncollapsed form (null shingles → no signature → no pairs). A null
    // fingerprint would (a) group EVERY null doc into one fake exact-dup
    // family (groupBy groups nulls) and (b) vanish from the non-null-safe
    // expansion join — so each null doc gets a per-doc unique sentinel
    // fingerprint instead, making it its own group/representative
    val withFp = docs.select(col(idCol), col(textCol),
      coalesce(TextFns.fingerprint(col(textCol)),
        concat(lit("__null_text__"), col(idCol).cast("string"))).as("__fp"))
    // one row per distinct normalized text; representative = min id
    // (exactDedup's survivor rule)
    val reps = withFp.groupBy("__fp").agg(min(col(idCol)).as("__rep_id"))
    Caches.scoped(withFp, reps) {
      val repDocs = withFp
        .join(reps.select(col("__rep_id").as(idCol)), Seq(idCol))
        .select(col(idCol), col(textCol))
      val repClusters = dupClusters(repDocs, idCol,
        minhashDedupPairs(repDocs, idCol, textCol, threshold, k,
          numHashes, bands, maxBucket),
        maxRounds)
      // expand: member → its fingerprint's representative → its cluster
      withFp.select(col(idCol), col("__fp"))
        .join(reps, "__fp")
        .join(repClusters.select(col(idCol).as("__rep_id"), col("cluster_id")),
          "__rep_id")
        .select(col(idCol), col("cluster_id"))
    }
  }

  // ---- SimHash (portable, md5-derived) ----

  /** The md5-derived 32-bit halves the portable SimHash consumes:
    * (id, hi, lo) per distinct token. Token bits come from the first 16
    * hex chars of md5(token): bits 31..0 from hex digits 9..16 ("lo"),
    * bits 63..32 from digits 1..8 ("hi"). md5 is bit-identical across
    * engines, so the DuckDB oracle replays the exact fingerprint
    * digit-for-digit. */
  private[graft] def simhashHalves(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Caches.spreadByKey(docs, col(idCol))
      .select(col(idCol).as("id"),
        // at most 32767 distinct tokens contribute per document: the
        // bound keeps every 16-bit lane of the lane-packed formulation
        // (the shape the oracle replays) from borrowing, and its top
        // lane's running sum below 2^63 under ANSI arithmetic
        explode(slice(array_distinct(TextFns.tokens(col(textCol))), 1, 32767)).as("tok"))
      .select(col("id"), md5(col("tok").cast("binary")).as("hx"))
      .select(col("id"),
        conv(substring(col("hx"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("hx"), 9, 8), 16, 10).cast("long").as("lo"))

  /** md5-portable SimHash, as four 16-bit chunks `c0..c3` — all 64
    * bit-counters in one native aggregate buffer
    * ([[graft.functions.SimHashChunksAgg]]). Chunked (not one i64)
    * output is sign-safe and doubles as the pigeonhole blocking key.
    * DedupSpec checks it against the lane-packed expression form and a
    * plain-JVM reference. */
  def withSimhashChunks(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashHalves(docs, idCol, textCol)
      .groupBy("id")
      .agg(graft.functions.SimHashChunksAgg
        .simhashChunks(col("hi"), col("lo")).as("__c"))
      .select(col("id"),
        element_at(col("__c"), 1).as("c0"), element_at(col("__c"), 2).as("c1"),
        element_at(col("__c"), 3).as("c2"), element_at(col("__c"), 4).as("c3"))

  /** Near-dup pairs by portable SimHash. With 4 chunks and
    * maxHamming ≤ 3 the pigeonhole blocking is EXACT (any pair within
    * hamming 3 shares at least one whole chunk), so the blocked join
    * returns precisely the brute-force all-pairs answer — fully
    * oracle-checkable, no recall asterisk... up to the same hot-bucket
    * guard as the MinHash path ([[withBucketStats]]): an identical-
    * fingerprint boilerplate family puts every member in the SAME chunk
    * bucket, so chunk buckets above `maxBucket` degrade from clique to
    * the representative star (rep–member pairs only, hamming-verified
    * against the rep's chunks riding the window struct). Bounded
    * candidates, same recall trade as documented on withBucketStats;
    * honest corpora never hit the cap and stay exactly all-pairs. */
  def simhashPortablePairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    simhashPairsFromChunks(withSimhashChunks(docs, idCol, textCol),
      maxHamming, maxBucket)

  /** The pair algebra of [[simhashPortablePairs]] over a precomputed
    * (id, c0..c3) fingerprint frame — split out so chunk-level
    * contracts (e.g. the hot-bucket/dedup interaction) are testable
    * with fabricated fingerprints. */
  def simhashPairsFromChunks(withFp: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk pigeonhole blocking is exact only for maxHamming <= 3")
    require(maxBucket >= 1, s"maxBucket ($maxBucket) must be >= 1")
    Caches.scoped(withFp) {
      val sized = withBucketStats(
        withFp.select(
          col("id"), col("c0"), col("c1"), col("c2"), col("c3"),
          posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
            .as(Seq("band", "bucket"))),
        repCols = Seq("c0", "c1", "c2", "c3"))
      val small = sized.filter(col("__bsz") <= maxBucket)
      val hamming = (0 until 4).map(j =>
        bit_count(col(s"a.c$j").bitwiseXOR(col(s"b.c$j")))).reduce(_ + _)
      // A pair sharing several chunks matches in several buckets, so the
      // union below is deduped with distinct() — same as the MinHash
      // path (cappedCliqueAndStar). An earlier "first-shared-chunk"
      // inequality avoided that shuffle but interacted badly with the
      // hot-bucket cap: a pair whose FIRST shared chunk sat in a hot
      // bucket (neither endpoint the rep) was suppressed at every later
      // honest bucket too, silently losing pairs the cap's documented
      // trade never covered. The distinct input is bounded: ≤ 4
      // emissions per surviving pair, and bucket caps bound the pairs.
      val clique = small.as("a").join(small.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id") &&
            hamming <= maxHamming)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          hamming.cast("long").as("hamming"))
      // hot buckets: representative star, verified against the rep's
      // chunks riding the window struct; a (rep, member) pair that also
      // shares an honest bucket is emitted by both paths and deduped by
      // the same distinct (hamming is pair-determined, so rows collide)
      val repHamming = (0 until 4).map(j =>
        bit_count(col(s"c$j").bitwiseXOR(col(s"__rep.c$j")))).reduce(_ + _)
      val star = sized
        .filter(col("__bsz") > maxBucket && col("id") =!= col("__rep.id") &&
          repHamming <= maxHamming)
        .select(col("__rep.id").as("id_a"), col("id").as("id_b"),
          repHamming.cast("long").as("hamming"))
      clique.unionByName(star).distinct()
    }
  }

  // ---- n-gram Jaccard and containment (exact) ----

  /** EXACT pairwise n-gram Jaccard via prefix filtering (AllPairs /
    * PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08): order
    * every document's shingles by one global rank (rarest first), index
    * only each document's first `|d| - ⌈t·|d|⌉ + 1` shingles, and let
    * candidates meet on shared PREFIX shingles. Any pair with
    * jaccard ≥ t must share a prefix element under a common global
    * order, so — unlike first-token or LSH blocking — this is lossless:
    * the result is identical to the all-pairs join (ContainmentSpec
    * checks it against brute force). Candidates then pass the PPJoin
    * positional filter before full set verification.
    *
    * The candidate join only ever touches prefix (= globally rare)
    * shingles, so its buckets stay small without any salting: the index
    * is what's bounded. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "jaccard threshold in (0, 1]")
    val hs = Caches.spreadByKey(docs, col(idCol)).select(col(idCol).as("id"),
      hashedShingles(col(textCol), k).as("hs"))
    Caches.scoped(hs) {
      val ex = hs.select(col("id"), size(col("hs")).as("sz"),
        explode(col("hs")).as("s"))
      // document frequency of every REPEATED shingle (df=1 rows would
      // dominate the table and add nothing: missing ⇒ df 1)
      val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > lit(1L))
      // global order = (df asc, shingle asc); prefix keeps the rarest
      // |d| - ceil(t·|d|) + 1 shingles of each doc. dfTab holds every
      // REPEATED shingle — corpus-scale cardinality, so it joins
      // unhinted (AQE broadcasts it only when it actually fits), never
      // with a forced broadcast that would OOM the driver at 100 TB
      val wRank = Window.partitionBy("id").orderBy(col("df"), col("s"))
      val prefix = ex.join(dfTab, Seq("s"), "left")
        .withColumn("df", coalesce(col("df"), lit(1L)))
        .withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(threshold)) + 1)
        .select("id", "s", "rn", "sz")
      // positional filter (PPJoin): with c shared prefix shingles, the
      // last of them at rank ra/rb, the overlap can't exceed
      // c + min(|a|-ra, |b|-rb); pairs whose bound misses the required
      // overlap α = ⌈t/(1+t)·(|a|+|b|)⌉ die here, before the (expensive)
      // set verification
      val cands = prefix.as("a").join(prefix.as("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("__c"),
          max(col("a.rn")).as("__ra"), max(col("b.rn")).as("__rb"),
          first(col("a.sz")).as("__sa"), first(col("b.sz")).as("__sb"))
        .filter(col("__c") +
          least(col("__sa") - col("__ra"), col("__sb") - col("__rb")) >=
          ceil(lit(threshold / (1 + threshold)) * (col("__sa") + col("__sb"))))
        .select("id_a", "id_b")
      verifyJaccardPairs(cands, hs, threshold)
    }
  }

  /** EXACT pairwise n-gram CONTAINMENT — |A ∩ B| / min(|A|, |B|) — the
    * asymmetric twin of [[ngramJaccardPairs]]: a short document wholly
    * embedded in a long one scores ~1 here while its jaccard collapses
    * toward |A|/|B| (a 50-gram quote inside a 5000-gram page is
    * containment 1.0, jaccard 0.01) — the quote/excerpt/wrapper-page
    * detector a corpus dedup needs ALONGSIDE the symmetric measures.
    *
    * Count-based inverted index ([[shingleMeets]]): pairs meet once per
    * shared shingle and the intersection size IS the meet count; hot
    * shingles (df > `hotDf`) are spread over `salts` reducers by an
    * exact salted self-join. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 3,
      hotDf: Int = 4096, salts: Int = 16): DataFrame = {
    require(threshold > 0 && threshold <= 1, "containment threshold in (0, 1]")
    shingleMeets(docs, idCol, textCol, k, hotDf, salts) { meets =>
      meets
        .withColumn("__c", col("__i").cast("double") /
          least(col("__sa"), col("__sb")))
        .filter(col("__c") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("__c"), 4).as("containment"))
    }
  }

  /** Meet-count core of [[containmentPairs]]: hashed shingle postings
    * (df = 1 singletons dropped — they cannot intersect), cold keys
    * joined directly, hot keys (df > hotDf) through the exact salted
    * self-join (a-side salted, b-side replicated `salts`×, the
    * [[Skew.saltedJoin]] algebra), aggregated to one row per unordered
    * pair: (id_a, id_b, __i = |A ∩ B|, __sa = |A|, __sb = |B|). Each
    * shared shingle contributes exactly one meet row on exactly one
    * path, so the union stays exact. `finish` shapes the measure; it
    * runs inside the cache scope so its plan reuses the hot shingle
    * frame. */
  private def shingleMeets(docs: DataFrame, idCol: String, textCol: String,
      k: Int, hotDf: Int, salts: Int)(
      finish: DataFrame => DataFrame): DataFrame = {
    val hs = Caches.spreadByKey(docs, col(idCol)).select(col(idCol).as("id"),
      hashedShingles(col(textCol), k).as("hs"))
    Caches.scoped(hs) {
      val ex = hs.select(col("id"), size(col("hs")).as("sz"),
        explode(col("hs")).as("s"))
      val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > lit(1L))
      val withDf = ex.join(dfTab, "s")
      val cold = withDf.filter(col("df") <= lit(hotDf.toLong))
      val hot = withDf.filter(col("df") > lit(hotDf.toLong))
      def pairCols(side: DataFrame, other: DataFrame, extraKey: Seq[String]) =
        side.as("a").join(other.as("b"),
            (Seq(col("a.s") === col("b.s")) ++
              extraKey.map(k0 => col(s"a.$k0") === col(s"b.$k0")))
              .reduce(_ && _) && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      val coldPairs = pairCols(cold, cold, Nil)
      val hotL = hot.withColumn("__salt",
        pmod(xxhash64(col("id"), col("s")), lit(salts.toLong)))
      val hotR = hot.withColumn("__salt",
        explode(sequence(lit(0L), lit(salts - 1L))))
      val hotPairs = pairCols(hotL, hotR, Seq("__salt"))
      finish(coldPairs.unionByName(hotPairs)
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("__i"),
          first(col("sz_a")).as("__sa"), first(col("sz_b")).as("__sb")))
    }
  }
}
