package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFns
import graft.operators.{Bpe, Caches, Dedup, EditDistance, Multimodal, MultimodalFixtures, Projection, Quantiles, Sampling, Similarity, Tfidf}

/** Training-data pipeline operators exposed as declared queries over the
  * driver's `documents` / `embeddings` tables: deduplication (exact,
  * MinHash-LSH, SimHash, n-gram Jaccard), similarity search (brute-force
  * + LSH cosine), text analysis (tokens, quality, language ID,
  * fingerprint), and multimodal plumbing.
  *
  * Oracle coverage: everything whose math DuckDB can replicate exactly
  * gets SQL (token/quality/langid SQL is generated from the same constant
  * tables as the Spark expressions). Hash-family ops (xxhash64-based
  * MinHash/SimHash/LSH) have no DuckDB twin → rows-only checks, with
  * ScalaTest suites asserting their semantics instead.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")

  /** Plane and bucket counts for the declared LSH-tier ANN queries
    * (v02/v03/v08/v12/v23/v32/v33): [[Similarity.autoPlanes]] /
    * [[Similarity.autoBuckets]] over the embeddings corpus, NOT pinned
    * constants. A fixed plane count keeps the bucket space constant
    * while the corpus grows, so the candidate self-join is quadratic
    * until the hot-bucket cap (the ~sf1→~sf3 scaling leg measured the
    * fixed-6-plane config at exponent 2.7); deriving p from n pins the
    * expected population only within a factor of 2 (power-of-2
    * stepping — the same leg then measured exponent 1.8 on a step that
    * straddled a plane increment), and the mod-B signature fold
    * (numBuckets = ceil(n/128)) pins it EXACTLY. The DuckDB oracles
    * recompute the identical p and B from count(*) (the `np` CTE
    * below), so the replay contract survives the derivation. Cached
    * per dir — the count is parquet-footer metadata, one cheap job,
    * but 7 queries share it within a run. */
  private val annRowsCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def annRows(s: SparkSession, dir: String): Long = {
    // cache key carries the table's on-disk fingerprint (total length +
    // max mtime), not just the path: a long-lived JVM that re-generates
    // a corpus at the SAME path must re-derive p/B, or Spark would
    // bucket with a stale count while the oracle re-derives from the
    // live count(*)
    val fp = try {
      val root = new java.io.File(dir, "embeddings.parquet")
      val files = if (root.isDirectory) root.listFiles() else Array(root)
      files.foldLeft((0L, 0L)) { case ((len, mt), f) =>
        (len + f.length(), math.max(mt, f.lastModified())) }.toString
    } catch { case scala.util.control.NonFatal(_) => "" }
    annRowsCache.computeIfAbsent(s"$dir#$fp",
      _ => Long.box(emb(s, dir).count())).longValue
  }
  private def annAutoPlanes(s: SparkSession, dir: String): Int =
    Similarity.autoPlanes(annRows(s, dir))
  private def annAutoBuckets(s: SparkSession, dir: String): Long =
    Similarity.autoBuckets(annRows(s, dir))

  // ---- text analysis ----

  def t01Tokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextFns.tokenCount(col("text")).as("n_tokens"),
      TextFns.bpeishTokenCount(col("text")).as("n_subtokens"))
      .orderBy("doc_id")

  def t02Quality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      TextFns.alphaRatio(col("text")).as("alpha_ratio"),
      TextFns.stopwordRatio(col("text")).as("stop_ratio"),
      TextFns.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  def t03LangId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextFns.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  def t04Fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextFns.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  // ---- dedup ----

  def d01DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(docs(s, dir), "doc_id", "text")
      .select("doc_id", "n_dups").orderBy("doc_id")

  def d02DedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedupPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.5)
      .orderBy("id_a", "id_b")

  def d03DedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPortablePairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b")

  def d04NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** Declared in the exact-dedup-pre-collapsed form
    * ([[Dedup.collapsedDupClusters]]): semantically identical to
    * `dupClusters(minhashDedupPairs(...))` (the oracle replays THAT as a
    * recursive closure over brute-force pairs), but identical texts enter
    * LSH as one representative row — the 100 TB boilerplate-cluster
    * guard, carried by the declared query so the oracle gates it. */
  def d05DupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.collapsedDupClusters(docs(s, dir), "doc_id", "text",
        threshold = 0.5)
      .orderBy("doc_id")

  /** Quality-aware fuzzy-dedup selection: the d05 near-dup clusters with
    * the kept copy chosen by QUALITY (highest t02 score, tie lowest id)
    * instead of lowest id — what a production corpus dedup actually
    * retains: drop the duplicates, keep the best-written copy. The
    * cluster pass is exactly d05's (exact-pre-collapsed, hot-bucket
    * guarded); the rep choice adds one per-cluster window over
    * (quality, doc_id) — a key-partitioned shuffle, no new corpus scan
    * beyond the quality projection. Per-doc verdict:
    * (doc_id, cluster_id, rep_id, kept). */
  def d10QualityReps(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val clusters = Dedup.collapsedDupClusters(d, "doc_id", "text",
      threshold = 0.5)
    val q = d.select(col("doc_id"), TextFns.qualityScore(col("text")).as("__q"))
    // quality is rounded to 4dp on both engines, so the (quality desc,
    // id asc) order — and therefore the chosen rep — is engine-invariant
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("__q").desc, col("doc_id"))
    clusters.join(q, "doc_id")
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  /** First 8 BPE merges learned from the corpus word-frequency table
    * ([[Bpe.merges]]) — tokenizer training as a declared, oracled query.
    * Each iteration is an O(|vocab|) combinable aggregate; the oracle
    * replays all 8 merge rounds including the argmax tiebreaks. */
  def t32BpeMerges(s: SparkSession, dir: String): DataFrame =
    Bpe.merges(docs(s, dir), "text", iters = 8)

  /** CCNet head/middle/tail perplexity tiers (Wenzek '20): every doc
    * bucketed by its t16 unigram-LM score at 1/3-share cuts —
    * [[Quantiles.cumShareBuckets]]'s two-phase distinct-score window,
    * never a corpus-wide ntile. Low NLL (fluent) = head. */
  def t34PplBuckets(s: SparkSession, dir: String): DataFrame = {
    // the scores frame is probed three times (distinct-score table,
    // total, attach join) — persist it once instead of re-running the
    // t16 corpus pipeline per probe
    val sc = t16UnigramLogprob(s, dir)
    graft.operators.Caches.scoped(sc) {
      Quantiles.cumShareBuckets(sc, "avg_nll",
          Seq(("head", 1, 3), ("middle", 2, 3)), "tail")
        .select("doc_id", "avg_nll", "bucket")
    }.orderBy("doc_id")
  }

  /** Shannon token-entropy quality signal — per document, the entropy
    * of its own token distribution, H = ln(n) − Σ c·ln(c)/n, plus the
    * type-normalized form H/ln(types) in [0,1]. Low entropy flags
    * keyword-stuffed/looped spam that survives a TTR gate (t26) when
    * the repetition is spread over a few alternating types; the
    * normalized form is length-comparable, which is what a corpus-wide
    * threshold needs. Two map-side-combinable aggregations — per
    * (doc, token) counts then per-doc moments — no joins, no windows:
    * the cheapest corpus pass in the quality tier, safe at any scale. */
  def t35TokenEntropy(s: SparkSession, dir: String): DataFrame = {
    val tok = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
    val h = log(col("n").cast("double")) - col("slc") / col("n")
    tok.groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("types"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("slc"))
      .select(col("doc_id"), round(h, 4).as("token_entropy"),
        round(when(col("types") > 1, h / log(col("types").cast("double")))
          .otherwise(lit(0.0)), 4).as("entropy_norm"))
      .orderBy("doc_id")
  }

  /** Bigram PMI collocations (Church & Hanks, CL '90): pointwise mutual
    * information ln(p(ab) / (p(a)·p(b))) of every adjacent token pair
    * seen ≥ `minCount` times — the classic collocation-mining signal
    * (multiword expressions, named-entity fragments) a tokenizer/vocab
    * pipeline reads next to t08's raw vocab and t32's BPE merges. One
    * spread corpus pass emits bigrams; unigram counts DERIVE from a
    * second projection-only scan; both count tables reduce map-side and
    * are vocab-sized, so the attach joins broadcast — the corpus itself
    * never joins anything. Output is bounded by |vocab|² regardless of
    * corpus size (no top-k tie hazard: full table, lexicographic order). */
  def t38PmiCollocations(s: SparkSession, dir: String,
      minCount: Long = 20L): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val bgArr = TextFns.bigrams(col("text"))
    val d = docs(s, dir)
    val bg = graft.operators.Caches.spreadByKey(d, col("doc_id"))
      .select(explode(bgArr).as("bg"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c_ab"))
    val cu = d.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    // each count table feeds multiple branches (its own total + the
    // attach joins); scope-cache them so the corpus tokenizes exactly
    // twice (bigram pass + unigram pass), not once per branch
    graft.operators.Caches.scoped(c2, cu) {
      val nb = c2.agg(sum("c_ab").cast("double").as("n_bi"))
      val nu = cu.agg(sum("c").cast("double").as("n_uni"))
      c2.filter(col("c_ab") >= minCount)
        .select(split(col("bg"), " ").getItem(0).as("token_a"),
          split(col("bg"), " ").getItem(1).as("token_b"), col("c_ab"))
        .join(broadcast(cu.select(col("token").as("token_a"),
          col("c").as("__ca"))), Seq("token_a"))
        .join(broadcast(cu.select(col("token").as("token_b"),
          col("c").as("__cb"))), Seq("token_b"))
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .select(col("token_a"), col("token_b"), col("c_ab"),
          round(log((col("c_ab").cast("double") / col("n_bi")) /
            ((col("__ca").cast("double") / col("n_uni")) *
              (col("__cb").cast("double") / col("n_uni")))), 4).as("pmi"))
        .orderBy("token_a", "token_b")
    }
  }

  /** Per-source distribution shift: KL(p_source ‖ p_corpus) over the
    * unigram token distribution — the domain-divergence number a mixture
    * designer reads next to t30's DSIR weights (sources far from the
    * corpus mean are up/down-weighted deliberately, not by accident).
    * One tokenize pass reduces to per-(source, token) counts; the corpus
    * marginal and per-source totals DERIVE from that reduced table
    * (aggregations of counts, never corpus rescans), broadcast back at
    * dictionary scale. No smoothing needed: every source token is ⊆ the
    * corpus support by construction, so q(w) > 0 wherever p(w) > 0. */
  def t39DomainKl(s: SparkSession, dir: String): DataFrame = {
    val tok = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
    val sc = tok.groupBy("source", "token").agg(count(lit(1)).as("cs"))
    // sc feeds four branches (marginals, totals, and the scored join);
    // scope-cache the reduced table so the corpus tokenizes ONCE —
    // everything downstream aggregates dictionary-scale counts
    graft.operators.Caches.scoped(sc) {
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
  }

  /** Zipf-slope fit per source: least-squares slope of ln(freq) on
    * ln(rank) over each source's top-`maxRank` token frequencies — the
    * corpus-health diagnostic (natural text sits near −1; template/spam
    * sources flatten, gibberish steepens). The regression is a single
    * co-moment aggregate ([[q45StatsAgg]]'s shape) over the RANKED
    * per-source vocab — counts are already reduced, the rank window runs
    * per source over dictionary-scale rows with WindowGroupLimit pushing
    * the top-`maxRank` cut below the sort, and ties rank by token text
    * so the fit set is engine-invariant. */
  def t40ZipfSlope(s: SparkSession, dir: String,
      maxRank: Int = 32): DataFrame = {
    val f = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("token"))
    f.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= maxRank)
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        round(regr_slope(log(col("c").cast("double")),
          log(col("rnk").cast("double"))), 4).as("zipf_slope"))
      .orderBy("source")
  }

  /** Leakage-free train/val/test split ([[Sampling.withLeakFreeSplit]]):
    * d05's near-dup clusters with the split keyed on the CLUSTER id, so
    * a connected near-dup component can never straddle train and test —
    * the eval-contamination guard the per-doc t05 split cannot give (at
    * sf0.01 four of the corpus's own clusters straddle t05's
    * assignment). The cluster pass is exactly d05's (exact-pre-collapsed,
    * hot-bucket guarded); the split itself adds a pure projection of the
    * cluster id — no join, no new shuffle. Oracled end to end: the
    * DuckDB twin replays the recursive closure over brute-force pairs,
    * then the same md5-digit cut on cluster_id. */
  def t41LeakfreeSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.withLeakFreeSplit(
        Dedup.collapsedDupClusters(docs(s, dir), "doc_id", "text",
          threshold = 0.5), "cluster_id")
      .select("doc_id", "cluster_id", "split")
      .orderBy("doc_id")

  /** Temperature-scaled corpus mixture weights at T=2
    * ([[Sampling.temperatureWeights]]) — the p_i^(1/T) rebalance rule
    * (XLM-R / multilingual-LM mixing): per-source sampling weight and
    * the boost factor [[Sampling.replicateByWeight]] consumes as
    * epochs — keyed on LANGUAGE, the skewed stratum (en is ~44% of the
    * corpus; sources are uniform by construction, so a source mix would
    * be vacuous). One map-side-combinable count per stratum, then
    * arithmetic over the bounded stratum table. */
  def t42TemperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureWeights(docs(s, dir), "lang", temperature = 2.0)
      .orderBy("lang")

  /** Subword segmentation of the corpus with the t32-learned vocab
    * ([[Bpe.encode]]) — the BPE APPLY step: per-doc subword counts and
    * tokens-per-word ratio, one corpus join against the |vocab|-row
    * segmentation table (never a per-merge-round corpus rescan). */
  def t33BpeEncode(s: SparkSession, dir: String): DataFrame =
    Bpe.encode(docs(s, dir), "doc_id", "text", iters = 8)
      .orderBy("id")

  /** Exact tf-idf cosine near-dup pairs over the 3-gram inverted index
    * ([[Tfidf.cosinePairs]]) — the sparse-lexical twin of v03's dense
    * cosine and the exact counterpart of d02/d04's sketched estimates.
    * df-capped postings bound the join fanout (the 100 TB contract);
    * the cosine is exact in the capped gram space and fully oracled. */
  def d11TfidfPairs(s: SparkSession, dir: String): DataFrame =
    Tfidf.cosinePairs(docs(s, dir), "doc_id", "text",
        nGram = 3, dfCap = 64, threshold = 0.35)
      .orderBy("id_a", "id_b")

  /** Incremental tf-idf near-dup pairs — d11 restricted to pairs
    * touching the daily increment (every 10th doc), probed from the
    * increment's postings only so cost is ∝ increment
    * ([[Tfidf.incrementalCosinePairs]]); df/idf/norms stay corpus-wide,
    * and the oracle is the full recompute filtered to new endpoints —
    * the operator's exact equality contract. */
  def d12IncrementalTfidf(s: SparkSession, dir: String): DataFrame =
    Tfidf.incrementalCosinePairs(docs(s, dir), "doc_id", "text",
        newPred = col("doc_id") % 10 === 3,
        nGram = 3, dfCap = 64, threshold = 0.35)
      .orderBy("id_a", "id_b")

  /** Corpus snapshot diff ([[graft.operators.CorpusDiff]]) — v2 is a
    * deterministic rebuild of the corpus with every 97th doc dropped,
    * every doc_id % 89 == 5 revised, and every doc_id % 101 == 7
    * re-ingested under a fresh id: the three fates an iterative corpus
    * rebuild produces. The report is the per-source change ledger a
    * rebuild gate reads before promoting v2. One fixed-width full-outer
    * join on the id — document bodies never shuffle. */
  def d13CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = docs(s, dir)
    val v2 = v1.filter(col("doc_id") % 97 =!= 0)
      .withColumn("text", when(col("doc_id") % 89 === 5,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      .unionByName(v1.filter(col("doc_id") % 101 === 7)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    graft.operators.CorpusDiff.diffReport(v1, v2, "doc_id", "text",
        Seq("source"))
      .orderBy("source", "change")
  }

  /** Character-level near-dup pairs ([[EditDistance.editPairs]]):
    * PassJoin segment blocking over the 16-char normalized prefix,
    * verified by banded levenshtein at maxDist 3 — the typo/OCR member
    * of the dedup family, EXACT (the oracle is the all-pairs join over
    * the same collapsed prefixes). */
  def d14EditPairs(s: SparkSession, dir: String): DataFrame =
    EditDistance.editPairs(docs(s, dir), "doc_id", "text",
        prefixLen = 16, maxDist = 3)
      .orderBy("id_a", "id_b")

  /** n-gram containment pairs ([[Dedup.containmentPairs]]): the
    * asymmetric overlap measure — |A∩B| / min(|A|,|B|) — that catches a
    * short document embedded in a long one, which jaccard structurally
    * misses. EXACT (count-based inverted index, salted hot shingles). */
  def d16Containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** Cross-source overlap matrix ([[graft.operators.Overlap]]):
    * pairwise 3-shingle Jaccard between the corpus's source partitions —
    * the provenance screen run before trusting a source mix. */
  def d15SourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Overlap.sourceOverlap(docs(s, dir), "doc_id", "source",
        "text", k = 3)
      .orderBy("src_a", "src_b")

  /** Triangle count over the near-dup pair graph — the graph-density
    * probe of a dedup report (triangle-rich components are template
    * families; triangle-free ones are chains worth eyeballing). Ordered
    * edges (id_a < id_b) make each triangle count exactly once via the
    * a<b<c join pattern; at corpus scale both joins key on a vertex —
    * degree-bounded fan-out, never |pairs|². */
  def d06DupTriangles(s: SparkSession, dir: String): DataFrame = {
    // minhashDedupPairs returns a localCheckpoint'ed frame (its internal
    // Caches.scoped), so the three probes below reuse materialized rows —
    // and the triangle joins stay VISIBLE to the plan-regression gate
    // (wrapping them in another scope would checkpoint them away)
    val pairs = Dedup.minhashDedupPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.5)
      .select("id_a", "id_b")
    pairs.as("e1")
      .join(pairs.as("e2"), col("e1.id_b") === col("e2.id_a"))
      .join(pairs.as("e3"),
        col("e3.id_a") === col("e1.id_a") && col("e3.id_b") === col("e2.id_b"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  // ---- sampling / splits ----

  def t05Split(s: SparkSession, dir: String): DataFrame =
    Sampling.withSplit(docs(s, dir).select("doc_id"), "doc_id")
      .orderBy("doc_id")

  def t06Sample(s: SparkSession, dir: String): DataFrame =
    Sampling.sampleDeterministic(docs(s, dir).select("doc_id"), "doc_id",
        permille = 100)
      .orderBy("doc_id")

  /** The composed cleaning verdict — what an actual pretraining filter
    * pass computes per document: quality score, language, repetition
    * ratio, and the keep/drop decision (quality ≥ 0.3 AND lang = en AND
    * repetition < 0.2). One narrow projection; filters of this shape are
    * the first trillion-token pass of every corpus build. */
  def t12FilterPass(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val raw = when(size(toks) < 3, lit(1)).otherwise(size(toks) - 2)
    val rep = round(lit(1.0) -
      size(Dedup.shingles(col("text"), 3)).cast("double") / raw, 4)
    graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"),
        TextFns.qualityScore(col("text")).as("quality"),
        TextFns.langId(col("text")).as("lang_pred"),
        rep.as("rep_ratio"))
      .withColumn("keep",
        (col("quality") >= 0.3 && col("lang_pred") === "en" &&
          col("rep_ratio") < 0.2).cast("int"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary by document frequency — the first pass of any
    * tokenizer/vocab build over a crawl. */
  def t08Vocab(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(array_distinct(TextFns.tokens(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("token")).limit(100)

  /** Gopher-style repetition quality signal: the fraction of a
    * document's 3-shingles that are duplicates (1 - distinct/raw).
    * High ratio = boilerplate/spam; a standard pretraining filter. */
  def t09Repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val raw = when(size(toks) < 3, lit(1)).otherwise(size(toks) - 2)
    // shingling is compute-heavy per row; spread the single-split scan
    graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"),
        round(lit(1.0) - size(Dedup.shingles(col("text"), 3)).cast("double") / raw, 4)
          .as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus novelty per document: the fraction of its distinct
    * 3-shingles whose FIRST corpus occurrence (by doc_id order) is this
    * document — the freshness signal an ingestion pipeline tracks per
    * batch (falling novelty = the crawl is re-reading itself; t09 is
    * within-doc repetition, this is against-the-corpus repetition).
    * One shingle spread + one hash-keyed window: the shuffle carries
    * (doc_id, shingle-hash) pairs — 16 bytes/row, never strings — and
    * the first-seen verdict is a per-key min, no self-join. Joining on
    * xxhash64 keys is the d07 trade: a 64-bit collision merges two
    * shingles' first-seen, vanishingly unlikely below ~10⁹ distinct
    * shingles and worth the string-free shuffle. */
  def t27Novelty(s: SparkSession, dir: String): DataFrame = {
    // two map-side-combinable aggregates + one doc-keyed join — NOT a
    // per-hash window: a boilerplate shingle shared by most of the
    // corpus would funnel all its rows into one window task, while
    // groupBy(h).agg(min) partial-aggregates it away (the same hot-key
    // discipline as the LSH bucket caps)
    val ex = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    graft.operators.Caches.scoped(ex) {
      val perDoc = ex.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val novelPerDoc = ex.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("__n_novel"))
      perDoc.join(novelPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          round(coalesce(col("__n_novel"), lit(0L)).cast("double") /
            col("n_shingles"), 4).as("novelty"))
        .orderBy("doc_id")
    }
  }

  /** Per-document salient terms: top-3 by (term frequency DESC, corpus
    * document frequency ASC, term ASC) — the integer-exact cousin of
    * tf-idf ranking (frequent in the doc, rare in the corpus), chosen
    * over tf·log(N/df) so the oracle can replay the ordering with no
    * floating-point tie hazards. */
  def t10Salient(s: SparkSession, dir: String): DataFrame = {
    val tok = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // df from the tf frame: (doc, token) rows are already distinct, so a
    // plain count with map-side combine replaces a countDistinct expand —
    // and hot tokens pre-reduce to one row per partition before the
    // shuffle. The tf⋈df attach join is broadcast while the vocabulary's
    // size estimate fits, salted past that (never a plain shuffled join
    // on raw tokens — SkewSpec pins the invariant).
    val dfTab = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(desc("tf"), col("df"), col("token"))
    graft.operators.Skew.broadcastOrSalted(tf, dfTab, Seq("token"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "token", "tf", "df")
      .orderBy("doc_id", "rank")
  }

  def t11Pack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packBins(docs(s, dir), "doc_id",
        TextFns.tokenCount(col("text")), budget = 2048L)
      .orderBy("doc_id")

  /** Boilerplate-phrase detection (the CCNet/paragraph-dedup pattern at
    * phrase granularity, since this corpus has no line structure): the
    * 3-shingles whose DOCUMENT frequency is high are template/boilerplate
    * candidates a cleaning pass strips. Shingles are distinct per doc, so
    * the count is a true document frequency; map-side combine keeps the
    * shuffle at one row per (shingle, partition). */
  def t13Boilerplate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(explode(Dedup.shingles(col("text"), 3)).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 5)
      .orderBy(desc("df"), col("shingle")).limit(100)

  /** Benchmark decontamination over the corpus: docs 0-49 stand in as
    * the eval/benchmark set; report every train doc sharing a 5-gram
    * with it. String shingles here so the oracle replays bit-for-bit;
    * production uses the hashed variant (same counts, 8-byte join
    * keys). */
  def t15Contamination(s: SparkSession, dir: String): DataFrame =
    Dedup.contaminatedDocs(docs(s, dir), "doc_id", "text",
        evalPred = col("doc_id") < 50, k = 5, hashed = false)
      .orderBy("doc_id")

  /** Stratified corpus-mixture sampling: keep 10% of English, 30% of
    * Chinese, 20% of everything else — the language-rebalance pass of a
    * corpus build, on the engine-portable md5-digit cut so assignments
    * never move between runs, shards, or engines. */
  def t18Stratified(s: SparkSession, dir: String): DataFrame =
    Sampling.sampleStratified(docs(s, dir).select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 100, "zh" -> 300),
        defaultPermille = 200)
      .orderBy("doc_id")

  /** Per-domain document cap — the CCNet/Gopher corpus rule: no source
    * may contribute more than 10 documents, and within a source the
    * BEST-written copies win (t02 quality desc, doc_id tie). The
    * two-phase salted window ([[Sampling.capPerGroupByScore]]) is the
    * 100 TB shape: a hot domain's rows pre-cap per input slice, so no
    * single window task ever sees a power-law host's full page set.
    * Output is the kept docs with their within-source rank. */
  def t28DomainCap(s: SparkSession, dir: String): DataFrame = {
    val q = docs(s, dir).select(col("doc_id"), col("source"),
      TextFns.qualityScore(col("text")).as("quality"))
    Sampling.capPerGroupByScore(q, "source", "quality", "doc_id",
        n = 10, rankAs = "src_rank")
      .orderBy("source", "doc_id")
  }

  /** Gopher-style composite quality rules (Rae et al., "Scaling
    * Language Models: ... Gopher", 2021, Appendix A1.1): word count
    * bounds, mean-word-length band, symbol-to-word ratio, alphabetic-
    * word fraction, and minimum stopword hits, each surfaced as its own
    * signal column plus the conjunction `pass`. One narrow codegen'd
    * projection — the rule screen costs exactly one scan at 100 TB. */
  def t29GopherRules(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      TextFns.tokenCount(col("text")).as("n_words"),
      TextFns.meanWordLen(col("text")).as("mean_word_len"),
      TextFns.symbolRatio(col("text")).as("symbol_ratio"),
      TextFns.alphaWordFrac(col("text")).as("alpha_word_frac"),
      TextFns.stopwordHits(col("text")).as("stop_hits"))
    d.withColumn("pass",
      (col("n_words").between(20, 50000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") <= 0.1 &&
        col("alpha_word_frac") >= 0.6 &&
        col("stop_hits") >= 2).cast("int"))
      .orderBy("doc_id")
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): hashed n-gram
    * (unigram + bigram, md5 → 256 buckets) bag-of-words models of the
    * target slice (`lang = 'en'`) and the raw corpus, add-1 smoothed;
    * a document's weight is the mean log-likelihood ratio of its grams.
    * Scale shape: the gram explode is map-side combined into 256 bucket
    * rows (two conditional counts in ONE aggregate), the per-gram prob
    * attach is a broadcast of those 256 rows (no shuffle), and the only
    * wide exchange is the per-doc mean — the same 100 TB posture as the
    * t16/t25 LM filters. */
  def t30Dsir(s: SparkSession, dir: String): DataFrame = {
    val nBuckets = 256
    val toks = TextFns.tokens(col("text"))
    val bgArr = TextFns.bigrams(col("text"))
    val grams = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(concat(toks, bgArr)).as("gram"))
      .withColumn("bucket", pmod(
        conv(substring(md5(col("gram")), 1, 4), 16, 10).cast("long"),
        lit(nBuckets)))
    val counts = grams.groupBy("bucket").agg(
      count(lit(1)).as("c_raw"),
      count(when(col("lang") === "en", lit(1))).as("c_tgt"))
    // totals via a global window over the 256-row bucket table (trivially
    // single-partition at ANY corpus size) — a separate totals aggregate
    // would re-derive `counts` and recompute the gram explode a third time
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val probs = counts.select(col("bucket"),
      ((col("c_tgt") + 1).cast("double") /
        (sum("c_tgt").over(w) + nBuckets)).as("p_tgt"),
      ((col("c_raw") + 1).cast("double") /
        (sum("c_raw").over(w) + nBuckets)).as("p_raw"))
    grams.join(broadcast(probs), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(avg(log(col("p_tgt") / col("p_raw"))), 4).as("log_ratio"))
      .withColumn("selected", (col("log_ratio") > 0).cast("int"))
      .orderBy("doc_id")
  }

  /** Top principal component of the embedding corpus by two unrolled
    * power-iteration steps ([[graft.operators.Pca.topComponent]]) — the
    * embedding-health screen: `var_share` near 1 means a collapsed
    * space (one direction soaks up the variance), near 1/dim a healthy
    * isotropic one. Fully oracled: every stage is decimal-summed and
    * 6dp-quantized, so DuckDB replays the identical arithmetic. */
  def v18PcaPower(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.topComponent(emb(s, dir), "embedding", 64)

  /** Full k-means fit (2 Lloyd iterations, k=8) over the embedding
    * corpus — the centroid-training loop the IVF build and SemDeDup
    * tiers consume. Every iteration is decimal-exact and md5-seeded, so
    * the DuckDB oracle replays the whole fit iteration by iteration:
    * one green hash certifies assignments, means, empty-centroid
    * survival, AND the final cluster-quality report. */
  def v19KmeansFit(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansFit(emb(s, dir), "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)

  /** Scalar-quantized (SQ8) ANN top-3 for queries 0-4 — same ranking
    * contract as v01, scored in the dequantized int8 domain
    * ([[Similarity.sqTopK]]). */
  def v21SqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.sqTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  /** Quality-weighted sample without replacement (Efraimidis–Spirakis
    * keys over md5-derived uniforms, weight = t02 quality score) —
    * the "draw a better-than-random subcorpus" primitive
    * ([[Sampling.weightedSample]]). */
  def t31WeightedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(
      docs(s, dir).select(col("doc_id"),
        TextFns.qualityScore(col("text")).as("w")),
      "doc_id", "w", n = 20)

  /** Trainable quality classifier: 3 full-batch GD iterations of
    * logistic regression ([[graft.operators.LogReg.logregFit]]) on
    * text-derived features, predicting the `lang = 'en'` slice —
    * fit AND scored distributed, oracled iteration-exactly. */
  def v20LogregFit(s: SparkSession, dir: String): DataFrame =
    graft.operators.LogReg.logregFit(docs(s, dir), "text",
      col("lang") === "en", iters = 3, lr = 1.0)

  /** Unigram-logprob quality signal — the perplexity-filter proxy: a
    * document's mean negative log-probability under the corpus's own
    * unigram distribution. Gibberish and boilerplate sit far from the
    * corpus mean; a standard pretraining quality gate (the KenLM-style
    * filter with the cheapest possible LM). Two aggregation passes: the
    * unigram table (map-side combined counts) and the per-doc mean; the
    * token→frequency attach join is skew-prone at corpus scale (hot
    * tokens), where it would run through [[graft.operators.Skew]] — at
    * dictionary-sized vocabularies AQE broadcasts it outright. */
  def t16UnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val tok = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("n_total"))
    tok.join(freq, "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("cnt").cast("double") / col("n_total"))), 4)
        .as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Bigram-LM quality signal — the t16 unigram gate upgraded one
    * order: per document, the mean negative log-probability of its
    * bigrams under the corpus's own add-1-smoothed bigram model,
    * P(b|a) = (c(ab)+1)/(c(a·)+V). The KenLM-style filter at the
    * cheapest order that still scores word ORDER (scrambled text fools
    * a unigram gate, not this). Same shape as t16: count aggregates
    * (map-side combined) + attach joins (dictionary-scale sides
    * broadcast under AQE; [[graft.operators.Skew]] at hot-token
    * corpus scale) + one per-doc mean. */
  def t25BigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val bgArr = TextFns.bigrams(col("text"))
    val bg = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(bgArr).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    // UNSCOPED like its t16 twin, so the multi-shuffle plan stays
    // VISIBLE to the regression gate (scoped would checkpoint it away).
    // The context counts c(a·) DERIVE from the bigram table (Σ_b c(ab)
    // grouped by the first word) — an aggregation of the already-
    // reduced counts, not another corpus-wide tokenize pass.
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    // smoothing V = full token-type vocabulary (so P(·|a) sums to 1) —
    // it cannot derive from `bg` (a doc's final token may never open a
    // bigram), so it is one extra single-column scan; a production
    // pipeline reads it off the precomputed vocab table (t08)
    val v = docs(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    bg.join(c2, "bg").join(c1, "w1")
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(round(avg(-log((col("c2") + 1).cast("double") /
        (col("c1") + col("v")))), 4).as("avg_nll2"))
      .orderBy("doc_id")
  }

  /** Lexical-diversity quality signals per document: type-token ratio
    * (distinct/total tokens — low TTR flags repetitive spam the
    * shingle-repetition gate t09 can miss at long range) and hapax
    * fraction (share of tokens occurring exactly once in the WHOLE
    * corpus — unusually high means OOV-gibberish, unusually low means
    * template text). Per-row set math plus one HAPAX-ONLY frequency
    * join: token/type counts need no corpus frequencies, so only the
    * cnt=1 sliver of the vocabulary is joined back (the corpus's
    * heaviest column never rides a full token⋈freq attach — at 100 TB
    * that join would shuffle every occurrence to learn a bit only the
    * hapax subset carries). A hapax token occurs exactly once corpus-
    * wide, so the inner join emits one row per (doc, hapax token). */
  def t26LexicalDiversity(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val base = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(toks).as("token"))
    val hapax = base.groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === 1).select("token")
    val nHapax = base.join(hapax, "token")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hapax"))
    val perDoc = base.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_types"))
      .join(nHapax, Seq("doc_id"), "left")
      .withColumn("n_hapax", coalesce(col("n_hapax"), lit(0L)))
    perDoc.select(col("doc_id"),
        round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_tokens"), 4).as("hapax_frac"))
      .orderBy("doc_id")
  }

  /** BM25 keyword retrieval (Lucene's variant: idf = ln(1 + (N-df+0.5)/
    * (df+0.5)), k1 = 1.2, b = 0.75) for a fixed two-term query — the
    * text-retrieval sibling of the vector ANN tier. Postings join on the
    * query terms only (two index probes, not a corpus scan at serving
    * time if the postings are materialized); top-k via ORDER BY+LIMIT
    * plans as TakeOrderedAndProject. */
  def t17Bm25(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(s, dir, Seq("spark", "vector"), 10)

  /** The t17 scoring parameterized by top-k — shared with the v31
    * fusion so the lexical leg cannot fork from the gated t17 text. */
  private def bm25Ranked(s: SparkSession, dir: String,
      terms: Seq[String], topK: Int): DataFrame = {
    val k1 = 1.2; val b = 0.75
    val d = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("len"),
        explode(col("toks")).as("token"))
      .filter(col("token").isin(terms: _*))
    val tf = d.groupBy("doc_id", "token")
      .agg(count(lit(1)).cast("double").as("tf"), first("len").as("len"))
    // count("text") (non-null), matching the materialized index's
    // membership definition: a null-text row has no postings and is not
    // a collection member — avg_len already skips it (AVG ignores nulls)
    val stats = docs(s, dir).agg(
      count(col("text")).cast("double").as("n_docs"),
      avg(size(TextFns.tokens(col("text")))).as("avg_len"))
    val df_ = tf.groupBy("token").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfPart = col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avg_len")))
    tf.join(df_, "token")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * tfPart)
      .groupBy("doc_id")
      .agg(round(sum("term_score"), 4).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score"), col("doc_id")).limit(topK)
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al. '09):
    * fuse the BM25 lexical top-100 (t17's exact scoring) with the
    * dense cosine top-100 against query vector 0 as
    * Σ 1/(60 + rank) — the standard lexical⊕dense ensemble a
    * retrieval-augmented pipeline serves, with each leg ranked on its
    * ROUNDED score (engine-exact ordering, id tie-break). Both legs
    * are bounded top-k lists (TakeOrderedAndProject), so the fusion
    * windows run over ≤100 rows — rank-fusing full corpus lists would
    * be the anti-pattern at scale. */
  def v31HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val kList = 100; val kRrf = 60
    val wL = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val lex = bm25Ranked(s, dir, Seq("spark", "vector"), kList)
      .select(col("doc_id"), col("score"))
      .withColumn("lrank", row_number().over(wL))
    val e = emb(s, dir)
    val q0 = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val wD = org.apache.spark.sql.expressions.Window
      .orderBy(col("sim").desc, col("doc_id"))
    val dense = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id").as("doc_id"),
        round(Similarity.cosine(col("embedding"), col("q_emb")), 4).as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(kList)
      .withColumn("drank", row_number().over(wD))
    lex.select("doc_id", "lrank")
      .join(dense.select("doc_id", "drank"), Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("lrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("drank")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
  }

  /** Per-source corpus profile — the split-by-provenance report every
    * corpus build starts from: volume, size, language spread, and mean
    * quality per source. One grouped pass over the table. */
  def t14SourceProfile(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"),
        round(avg(TextFns.qualityScore(col("text"))), 4).as("avg_quality"))
      .orderBy("source")

  def t07Chunks(s: SparkSession, dir: String): DataFrame =
    TextFns.chunkTokens(docs(s, dir), "doc_id", "text",
        window = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx")

  /** The corpus-build manifest — the whole pretraining data pipeline
    * composed into its final artifact: per document, the assigned
    * train/val/test split ([[Sampling.withSplit]]), the quality verdict
    * ([[t12FilterPass]]), whether the doc is its near-dup cluster's
    * representative ([[Dedup.dupClusters]] over MinHash pairs), and the
    * resulting selection decision (keep ∧ representative). This is the
    * query a reference user's END-TO-END pipeline reduces to; each stage
    * keeps its own scale posture (codegen'd projections, exact-dedup
    * pre-collapse + capped LSH self-join, connected components, md5
    * split — no new shuffles beyond the stages' own). */
  def t19CorpusManifest(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val quality = t12FilterPass(s, dir).select("doc_id", "keep")
    val clusters = Dedup.collapsedDupClusters(d, "doc_id", "text",
      threshold = 0.5)
    val splits = Sampling.withSplit(d.select("doc_id"), "doc_id")
    quality.join(clusters, "doc_id").join(splits, "doc_id")
      .select(col("doc_id"), col("split"), col("keep"),
        (col("cluster_id") === col("doc_id")).cast("int").as("is_rep"),
        (col("keep") === 1 && col("cluster_id") === col("doc_id"))
          .cast("int").as("selected"))
      .orderBy("doc_id")
  }

  // ---- similarity search ----

  def v01AnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  /** Label-constrained exact kNN for queries 0-4
    * ([[Similarity.filteredTopK]]): each query retrieves only from its
    * own label slice — filtered vector search, with the filter as a
    * join key so off-label vectors are never scored or shuffled. */
  def v24FilteredKnn(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.filteredTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", "label", k = 3)
      .orderBy("query_id", "rank")
  }

  /** Label-constrained IVF ANN for queries 0-4
    * ([[Similarity.ivfFilteredTopK]]): one shared index over the full
    * corpus, the label constraint applied to probed candidates before
    * scoring — v24's exact tier upgraded to the index tier. */
  def v25IvfFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfFilteredTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", "label", k = 3, nCentroids = 16, nProbe = 4)
      .orderBy("query_id", "rank")
  }

  /** Binary-quantization ANN for queries 0-4
    * ([[Similarity.bqRerankTopK]]): sign-bit codes (one long per
    * vector), hamming shortlist, exact cosine re-rank. */
  def v26BqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bqRerankTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, shortlist = 32, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** Recall\@k gate for the BQ tier — the v08/v13/v15 truth-join recall
    * computed over [[Similarity.bqRerankTopK]], so all four compression
    * families (LSH, IVF, PQ, BQ) publish their quality metric in-engine
    * and oracled. */
  def v27BqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 5)
    Similarity.recallAtK(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3),
        Similarity.bqRerankTopK(e, q, "vec_id", "embedding", k = 3))
      .orderBy("query_id")
  }

  def v02AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.lshTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, numPlanes = annAutoPlanes(s, dir), dim = 64,
        numBuckets = annAutoBuckets(s, dir))
      .orderBy("query_id", "rank")
  }

  def v04AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, nCentroids = 16, nProbe = 4)
      .orderBy("query_id", "rank")
  }

  def v03CosineNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4, numPlanes = annAutoPlanes(s, dir), dim = 64,
        numBuckets = annAutoBuckets(s, dir))
      .orderBy("id_a", "id_b")

  /** Recall\@k gate for the ANN tier, computed in-engine: the LSH top-3
    * ([[v02AnnLsh]]) joined against the brute-force truth ([[v01AnnBrute]])
    * per query — the quality metric an index build actually publishes.
    * Left join from truth, so missing neighbors count as misses; both
    * sides are bounded (k rows per query), so the join is trivially
    * broadcastable at any corpus size. */
  def v08AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 5)
    Similarity.recallAtK(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3),
        Similarity.lshTopK(e, q, "vec_id", "embedding",
          k = 3, numPlanes = annAutoPlanes(s, dir), dim = 64,
        numBuckets = annAutoBuckets(s, dir)))
      .orderBy("query_id")
  }

  /** Recall\@k gate for the IVF tier — v08's truth-join recall computed
    * over [[Similarity.ivfTopK]] instead of LSH, so BOTH approximate
    * index families publish their quality metric in-engine and oracled.
    * The materialized twin [[Similarity.ivfServeTopK]] is plan-identical
    * by IvfIndexSpec's served ≡ inline assertion, so this gate covers
    * the build/serve path too (asserted again directly in IvfIndexSpec). */
  def v13IvfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 5)
    Similarity.recallAtK(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3),
        Similarity.ivfTopK(e, q, "vec_id", "embedding",
          k = 3, nCentroids = 16, nProbe = 4))
      .orderBy("query_id")
  }

  /** Trained-centroid IVF recall gate — v13's truth-join recall over
    * [[Similarity.ivfTrainedTopK]] (16 centroids, 3 Lloyd iterations,
    * probe 4) AND the md5-sampled [[Similarity.ivfTopK]] yardstick at
    * identical parameters, side by side per query: the result table
    * itself shows the training gain (recall_trained > recall_sampled
    * in the mean — asserted by SimilaritySpec at sf0.001 and replayed
    * iteration-exactly by the DuckDB oracle). 50 queries, not v13's 5:
    * a 15-cell recall sample is noise; 150 cells separate the tiers. */
  def v28IvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 50)
    // the truth table feeds BOTH recall joins (trained and sampled
    // legs); without the checkpoint each leg re-runs the full
    // brute-force scan+window — the most expensive subtree in the
    // query, twice. 150 rows, values unchanged.
    val truth = graft.operators.Caches.eager(
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3))
    Similarity.recallAtK(truth,
        Similarity.ivfTrainedTopK(e, q, "vec_id", "embedding", k = 3,
          nCentroids = 16, nProbe = 4, iters = 3))
      .withColumnRenamed("recall", "recall_trained")
      .join(Similarity.recallAtK(truth,
          Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 3,
            nCentroids = 16, nProbe = 4))
          .withColumnRenamed("recall", "recall_sampled"),
        Seq("query_id"))
      .orderBy("query_id")
  }

  /** D4-style prototype pruning ([[Similarity.protoPrune]], Sorscher
    * '22 / Tirumala '23): the corpus clustered by the v19 Lloyd fit
    * (8 centroids, 2 iterations), each vector scored by cosine to its
    * own trained centroid, and the most prototypical 25% of every
    * cluster marked for dropping — the redundancy screen that composes
    * with SemDeDup (v09 drops near-duplicates, this drops the
    * over-represented cluster cores) into the full D4 recipe. Oracled
    * iteration-exactly: the DuckDB twin replays the kmeans CTE chain,
    * the final assignment, and the per-cluster prototypicality window. */
  def v29ProtoPrune(s: SparkSession, dir: String): DataFrame =
    Similarity.protoPrune(emb(s, dir), "vec_id", "embedding",
        k = 8, iters = 2, pruneFrac = 0.25)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  /** Trained-centroid IVF-PQ top-3 for queries 0-4
    * ([[Similarity.ivfPqTrainedTopK]]) — the canonical production
    * vector index completed: v16's list-pruned ADC search with the
    * inverted lists assigned to the v19 Lloyd fit (16 centroids, 3
    * iterations) instead of the raw md5 sample, exactly how FAISS
    * trains an IVF-PQ coarse quantizer. The PQ codebook stays the
    * md5-sampled yardstick. Oracled iteration-exactly: the DuckDB twin
    * composes the kmeans CTE chain with the verbatim v14/v16 PQ
    * machinery. */
  def v30IvfPqTrained(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfPqTrainedTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  /** PQ-compressed ANN top-3 for queries 0-4: the corpus is scanned as
    * 8 codebook indices per vector (never the floats), distances are
    * ADC table walks — the memory/scan tier a billion-vector serving
    * deployment runs on. [[Similarity.pqTopK]]. */
  def v14PqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.pqTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  /** Recall\@k gate for the PQ tier — the same truth-join recall v08
    * (LSH) and v13 (IVF) publish, so all three approximate index
    * families carry an in-engine, oracled quality metric. */
  def v15PqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 5)
    Similarity.recallAtK(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3),
        Similarity.pqTopK(e, q, "vec_id", "embedding", k = 3))
      .orderBy("query_id")
  }

  /** Two-stage PQ serving for queries 0-4: ADC shortlist of 20, exact
    * cosine re-rank to top-3 — the production pattern that buys back
    * quantization error where it matters (the final ordering) while
    * the corpus scan stays compressed. [[Similarity.pqRerankTopK]]. */
  def v17PqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.pqRerankTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, shortlist = 20)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ top-3 for queries 0-4 — the list-pruned, code-compressed
    * search itself under the oracle gate: probed lists from the v04
    * machinery, ADC distances from the v14 machinery, composed.
    * [[Similarity.ivfPqTopK]]. */
  def v16AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  /** 64→16-dim Rademacher random projection of the embedding corpus
    * ([[Projection.randProject]]) — JL dimensionality reduction as a
    * declared query: row-local, shuffle-free, the sign matrix re-derived
    * from md5 by engine and oracle alike. */
  def v22RandProj(s: SparkSession, dir: String): DataFrame =
    Projection.randProject(emb(s, dir), "vec_id", "embedding",
        dimIn = 64, dimOut = 16)
      .orderBy("id", "component")

  /** Mutual-kNN graph clustering — symmetrize the LSH top-2 lists
    * ([[Similarity.mutualKnnEdges]]) and label the connected
    * components with [[Dedup.dupClusters]] (driver union-find on a
    * bounded edge set, O(log n) star rounds past it): embedding
    * cluster structure with no k to pick and no similarity threshold to
    * tune, the grouping SemDeDup-style curation slices a corpus by. The top-k source is
    * the multi-probe LSH tier (v02's exact parameters, so the oracle
    * replays it arithmetic-step-for-arithmetic-step), NOT brute force:
    * self-kNN for EVERY vector is the one ANN call where the O(n²)
    * baseline actually bites (measured 10.7 s vs ~3 s at sf0.1;
    * unusable at corpus scale) — bucket-bounded candidates are the
    * 100 TB shape, and [[Similarity.mutualKnnEdges]] is agnostic to
    * which index serves the lists. The mutuality join and the
    * component rounds only ever shuffle id pairs, never vectors.
    * k = 2: a mutual-4NN graph percolates into one corpus-spanning
    * blob — structure-free — where mutual-2NN shatters it (at sf0.01
    * under the auto-sized planes: ~98 multi-node components of size
    * 2-14 plus singletons); the standard sparsify-until-it-shatters
    * dial, and the dial is the point. */
  def v23KnnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val edges = Similarity.mutualKnnEdges(
      Similarity.lshTopK(e, e, "vec_id", "embedding", k = 2,
        numPlanes = annAutoPlanes(s, dir), dim = 64,
        numBuckets = annAutoBuckets(s, dir)))
    val comp = Dedup.dupClusters(e.select("vec_id"), "vec_id", edges)
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("comp_size"))
    comp.join(sizes, "cluster_id")
      .select("vec_id", "cluster_id", "comp_size").orderBy("vec_id")
  }

  /** Margin-based pair mining across the label-split halves of the
    * embedding corpus ([[Similarity.marginMining]] — Artetxe & Schwenk
    * ratio margin, LSH-tier candidates both directions): per label<5
    * vector, its best label≥5 match where the pair is mutually
    * exceptional against each side's own kNN density. The bitext-mining
    * primitive (mine translation pairs from two monolingual embedding
    * spaces), declared on v02's exact LSH parameters so the oracle
    * replays every candidate and every denominator digit. */
  def v32MarginMining(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.marginMining(e.filter(col("label") < 5),
        e.filter(col("label") >= 5), "vec_id", "embedding",
        k = 4, threshold = 1.05, numPlanes = annAutoPlanes(s, dir), dim = 64,
        numBuckets = annAutoBuckets(s, dir))
      .orderBy("src_id")
  }

  /** Per-vector kNN label purity ([[Similarity.knnLabelAgreement]]):
    * the label-noise audit over the embedding corpus — purity is the
    * fraction of each vector's LSH-tier 4-NN sharing its label. On this
    * synthetic corpus labels are geometry-free, so the report's mean
    * sits at the 1/10 random baseline — which is exactly the reading
    * the audit exists to produce (labels carry no signal ⇒ don't train
    * a classifier on them). */
  def v33LabelPurity(s: SparkSession, dir: String): DataFrame =
    Similarity.knnLabelAgreement(emb(s, dir), "vec_id", "embedding",
        "label", k = 4, numPlanes = annAutoPlanes(s, dir), dim = 64,
        numBuckets = annAutoBuckets(s, dir))
      .select(col("id").as("vec_id"), col("label"), col("n_nbrs"),
        col("purity"))
      .orderBy("vec_id")

  /** Per-label embedding centroid norms — the first pass of
    * centroid-based dataset cleaning (a vector far from its label's
    * centroid is a labeling-error candidate). One grouped aggregate,
    * 64 per-dimension means. */
  def v05LabelCentroids(s: SparkSession, dir: String): DataFrame = {
    val avgs = (1 to 64).map(k =>
      avg(element_at(col("embedding"), k).cast("double")).as(s"a$k"))
    val norm = sqrt((1 to 64).map(k => col(s"a$k") * col(s"a$k")).reduce(_ + _))
    emb(s, dir).groupBy("label")
      .agg(count(lit(1)).as("n"), avgs: _*)
      .select(col("label"), col("n"), round(norm, 4).as("centroid_norm"))
      .orderBy("label")
  }

  /** One k-means Lloyd step over the embedding corpus: per-centroid
    * population and movement — the index-build/clustering convergence
    * probe. */
  def v07KmeansStep(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansStep(emb(s, dir), "vec_id", "embedding",
        nCentroids = 16, dim = 64)
      .select("cid", "n", "shift") // the new-centroid array is the
      .orderBy("cid")              // driver-loop payload, not the report

  /** Int8 symmetric quantization fidelity, per vector: scale by
    * 127/max|x|, round to the integer grid, and report the mean squared
    * reconstruction error — the compression/recall trade every
    * billion-vector ANN index makes. All element math is a single
    * codegen'd projection (no UDF); `floor(x+0.5)` is the grid rounding
    * on both engines so ties break identically, and the error fold is a
    * left-to-right `aggregate`, the same order DuckDB's list_reduce
    * replays. */
  def v06QuantError(s: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val mx = array_max(transform(v, x => abs(x)))
    def deq(x: Column): Column =
      floor(x * lit(127.0) / col("mx") + lit(0.5)) * col("mx") / lit(127.0)
    emb(s, dir)
      .select(col("vec_id"), v.as("v"), nullif(mx, lit(0.0)).as("mx"))
      .select(col("vec_id"), round(col("mx"), 6).as("max_abs"),
        round(
          aggregate(
            transform(col("v"), x => (x - deq(x)) * (x - deq(x))),
            lit(0.0), (acc, e) => acc + e) / size(col("v")), 9).as("mse"))
      .orderBy("vec_id")
  }

  /** SemDeDup over the embedding corpus (Abbas et al. '23): 16
    * md5-sampled centroids (the IVF build), within-cluster cosine ≥ 0.4
    * marks the higher id as a semantic duplicate — per vector, its
    * cluster and keep/drop verdict. */
  def v09SemDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4, nCentroids = 16)
      .select(col("id").as("vec_id"), col("cid"), col("keep"))
      .orderBy("vec_id")

  /** Embedding-space decontamination: vectors 0-4 stand in as the eval
    * benchmark; every train vector within cosine 0.3 of one is a
    * semantic-leak candidate (the paraphrase leakage n-gram overlap
    * cannot see). */
  def v10SemanticLeak(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.semanticContamination(e.filter(col("vec_id") >= 5),
        e.filter(col("vec_id") < 5), "vec_id", "embedding", threshold = 0.3)
      .orderBy("train_id", "eval_id")
  }

  /** Longest verbatim shared token span per near-dup doc pair (the
    * suffix-array dedup signal, Lee et al. '21) — pairs sharing ≥ 20
    * consecutive tokens. */
  def d07DupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(docs(s, dir), "doc_id", "text", k = 5, minSpan = 20)
      .orderBy("id_a", "id_b")

  /** The transform half of d07 ([[Dedup.scrubDupSpans]]): cut every
    * ≥20-token cross-doc duplicated run from the later document and
    * rebuild its text — Lee et al.'s actual deduplication step, not
    * just the detection report. Oracled end-to-end INCLUDING the
    * rebuilt string: DuckDB replays grams → diagonal islands → interval
    * merge → token filter and must reproduce `clean_text` byte for
    * byte. */
  def t36SpanScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.scrubDupSpans(docs(s, dir), "doc_id", "text",
        k = 5, minSpan = 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-200 df-ranked vocabulary (t08's ranking, deterministic
    * (df desc, token) tie-break) — the tokenizer-coverage screen: a doc
    * whose tokens mostly miss the vocabulary is noise, code, or the
    * wrong language for this tokenizer. Vocab is top-k-bounded so it
    * broadcasts BY CONSTRUCTION at any corpus size; the per-doc pass is
    * one broadcast left join + one map-side-combinable groupBy. */
  def t37OovRate(s: SparkSession, dir: String): DataFrame = {
    val tok = Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
    Caches.scoped(tok) {
      val vocab = tok.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), col("token")).limit(200)
        .select(col("token"), lit(1).as("__in"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 4))
        .orderBy("doc_id")
    }
  }

  /** Incremental dedup: docs ≡ 3 (mod 10) play the daily increment;
    * near-dup pairs touching the increment, at exactly d02's semantics
    * — without re-pairing the settled 90% with itself. */
  def d09IncrementalMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.incrementalMinhashPairs(docs(s, dir), "doc_id", "text",
        newPred = col("doc_id") % 10 === 3, threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** Bloom-prefiltered decontamination: eval set = every 7th doc,
    * train docs sharing ≥ 2 5-grams. Same exact semantics as t15's
    * operator (Bloom has no false negatives) with the corpus-side
    * shuffle pruned to probable hits — the 100 TB form of the query.
    * (The %7 eval slice matches BloomSpec's and yields hits on the test
    * corpus, so the oracle gate exercises the prefilter non-vacuously.) */
  def d08BloomDecontam(s: SparkSession, dir: String): DataFrame =
    Dedup.bloomContaminatedDocs(docs(s, dir), "doc_id", "text",
        evalPred = col("doc_id") % 7 === 0, k = 5, minShared = 2L)
      .orderBy("doc_id")

  /** Heavy-hitter tokens via the Misra-Gries sketch, gated against the
    * exact answer: the true top-10 tokens (by exact count) each carry
    * their sketch verdict — present in the capacity-64 summary with
    * the estimate inside the ±n/(capacity+1) additive band. At corpus
    * scale only the sketch side runs (constant-size state per
    * partition); the exact side here is the verification twin, the
    * same estimate+exact-band pattern as q48/q53. */
  def t21HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val cap = 64
    val tok = graft.operators.Caches.spreadByKey(docs(s, dir), col("doc_id"))
      .select(explode(TextFns.tokens(col("text"))).as("token"))
    // the tokenize+explode lineage feeds the sketch AND its exact
    // verification twin — materialize it once for the query's scope
    graft.operators.Caches.scoped(tok) {
      // one pass builds the sketch + the total count (constant state)
      val sketch = tok.agg(
        graft.functions.FreqSketchAgg.freqSketch(col("token"), cap).as("sk"),
        count(lit(1)).as("n_total"))
      val est = sketch.select(explode(col("sk")))
        .select(col("key").as("token"), col("value").as("est"))
      // n_total rides onto EVERY exact row via the broadcast scalar, not
      // the est side of the left join — an evicted (unmatched) token
      // would otherwise get a NULL bound and a NULL ok where the
      // guarantee says "eviction below the bound is fine"
      val exact = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("token")).limit(10)
        .crossJoin(broadcast(sketch.select(col("n_total"))))
      // assert exactly what Misra-Gries GUARANTEES: presence-with-band
      // for tokens above the n/(cap+1) additive bound; below it the
      // sketch may legitimately evict, so absence there is still ok —
      // the gate can never flip on corpus shape or partition layout
      val bound = col("n_total") / lit(cap + 1)
      val inBand = col("est").isNotNull && col("est") <= col("cnt") &&
        col("est") >= col("cnt") - bound
      val mayEvict = col("cnt") <= bound && (col("est").isNull ||
        (col("est") <= col("cnt") && col("est") >= col("cnt") - bound))
      exact.join(est, Seq("token"), "left")
        .select(col("token"), col("cnt"),
          (inBand || mayEvict).cast("int").as("ok"))
        .orderBy(desc("cnt"), col("token"))
    }
  }

  /** Deterministic 20-per-source exemplar sample — the "show me N from
    * every stratum" primitive of corpus QA dashboards. */
  def t23GroupSample(s: SparkSession, dir: String): DataFrame =
    Sampling.sampleNPerGroup(docs(s, dir).select("doc_id", "source"),
        "doc_id", "source", n = 20)
      .orderBy("source", "doc_id")

  /** Epoch-weight corpus mixing: English 0.8 epochs, Chinese 2.5,
    * everything else 1.0 — the replication half of a mixture schedule,
    * emitted as (doc, copy_idx) pairs. */
  def t24EpochMix(s: SparkSession, dir: String): DataFrame =
    Sampling.replicateByWeight(docs(s, dir).select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 800, "zh" -> 2500),
        defaultWeightPermille = 1000)
      .orderBy("doc_id", "copy_idx")

  /** Winnowing (MOSS) fingerprint selection per document: k=5 grams,
    * window w=4 — every selected (position, hash) pair, the artifact a
    * plagiarism/overlap index stores. */
  def t22Winnow(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text", k = 5, w = 4)
      .orderBy("doc_id", "fp_pos")

  /** Hashed-BoW linear classifier score per document (fastText-filter
    * shape, deterministic md5 weight table) and its keep verdict. */
  def t20Classifier(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextFns.classifierScore(col("text")).as("clf_score"))
      .withColumn("keep", (col("clf_score") > 0).cast("int"))
      .orderBy("doc_id")

  /** Hard-negative / labeling-error mining: LSH-blocked near-dup pairs
    * (cosine ≥ 0.3) whose LABELS disagree — the pairs a contrastive
    * trainer wants as hard negatives and a label auditor wants as
    * suspects. Pure composition: the v03 near-dup pair generator plus
    * two broadcast-scale label attaches. */
  def v12HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val labels = emb(s, dir).select(col("vec_id"), col("label"))
    Similarity.cosineNearDupPairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.3, numPlanes = annAutoPlanes(s, dir), dim = 64,
        numBuckets = annAutoBuckets(s, dir))
      .join(labels.select(col("vec_id").as("id_a"), col("label").as("label_a")), "id_a")
      .join(labels.select(col("vec_id").as("id_b"), col("label").as("label_b")), "id_b")
      .filter(col("label_a") =!= col("label_b"))
      .select("id_a", "id_b", "label_a", "label_b", "sim")
      .orderBy("id_a", "id_b")
  }

  /** MMR diversified top-3 from the top-10 cosine candidates for
    * queries 0-2 (λ = 0.7) — relevance/redundancy trade at serving
    * time. */
  def v11MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.mmrRerank(e, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 3, c = 10, lambda = 0.7)
      .orderBy("query_id", "mmr_rank")
  }

  // ---- multimodal plumbing ----

  def m01MultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.syntheticAssets(docs(s, dir), "doc_id", "text")
      .select(col("asset_id"), col("kind"),
        octet_length(col("data")).cast("long").as("byte_len"),
        col("meta.width").as("width"), col("meta.codec").as("codec"))
      .orderBy("asset_id")

  def m02MultimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(
        Multimodal.syntheticAssets(docs(s, dir), "doc_id", "text"))
      .select(col("asset_id"), col("byte_len"),
        size(col("feature")).as("feat_dims"),
        col("feat_checksum"))
      .orderBy("asset_id")

  /** Resize plumbing over the synthetic assets: longer edge capped at
    * 256, payload shrunk to the area ratio — the per-row transcode
    * stage of a media pipeline, with exactly-replayable output
    * dimensions. */
  def m05Resize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeAssets(
        Multimodal.syntheticAssets(docs(s, dir), "doc_id", "text"), 256)
      .select(col("asset_id"), col("meta.width").as("width"),
        col("meta.height").as("height"),
        octet_length(col("data")).cast("long").as("byte_len"))
      .orderBy("asset_id")

  def m03FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.syntheticAssets(docs(s, dir), "doc_id", "text"), 4)
      .orderBy("asset_id", "frame_idx")

  /** Frame-level dedup across assets. This corpus has near-dup but no
    * byte-identical documents, so the duplicate population is modeled
    * the way it actually arises in media pipelines: re-uploads — docs
    * 0-19 appear a second time under new asset ids. frameDedup finds
    * exactly the re-uploaded frames by content fingerprint. */
  def m04FrameDedup(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
    val assets = Multimodal.syntheticAssets(base, "doc_id", "text")
    val reuploads = Multimodal.syntheticAssets(
      base.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 100000L),
      "doc_id", "text")
    Multimodal.frameDedup(assets.unionByName(reuploads), 4)
      .orderBy("frame_md5")
  }

  /** Perceptual-hash near-dup detection over the asset corpus
    * ([[Multimodal.phashPairs]]) — exact re-uploads (planted copies of
    * assets 0-9) pair at hamming 0, lightly-corrupted re-encodes (the
    * same assets with a one-byte trailer — one stripe accumulator
    * moves, ≤ 2 fingerprint bits) pair within the hamming-3 gate; the
    * pair algebra and hot-bucket cap are d03's SimHash machinery
    * verbatim. The oracle replays the stripe folds, the 64 dHash bits,
    * and the all-pairs hamming join. */
  def m06PhashPairs(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") < 10)
    Multimodal.phashPairs(Multimodal.syntheticAssets(
        base
          .unionByName(planted
            .withColumn("doc_id", col("doc_id") + 100000L))
          .unionByName(planted
            .withColumn("doc_id", col("doc_id") + 200000L)
            .withColumn("text", concat(col("text"), lit("!")))),
        "doc_id", "text"))
      .orderBy("id_a", "id_b")
  }

  // ---- m07-m10: the REAL codecs under the driver contract ----
  //
  // m01-m06 hash on the deterministic StubCodec so DuckDB can replay
  // the fold; these four run the REAL decoders (ImageIoCodec on JDK
  // ImageIO pixels, WavCodec on JDK sampled PCM) over generated REAL
  // PNG/JPEG/WAV payloads (MultimodalFixtures — seeded, encoded on the
  // executors) and aggregate DECODED-CONTENT invariants no container-
  // byte fold can produce. DuckDB cannot decode media, but the seeded
  // fixtures make the aggregates CONSTANTS, so the oracles pin the
  // rows as VALUES tables (MultimodalCodecSpec pins the same rows) —
  // hash-matched, not rows-only, since round 12.

  /** Stripe-mean monotonicity recovered from real PNG pixels: 24 groups
    * x {ascending gradient, descending gradient, flat} decode through
    * [[graft.operators.ImageIoCodec]] to exactly 24/24/24 envelope
    * classes. */
  def m07RealImageDecode(s: SparkSession, dir: String): DataFrame =
    envelopeCounts(Multimodal.decodeFeatures(
      MultimodalFixtures.imageMonotoneAssets(s, nGroups = 24),
      dims = 8, codec = new graft.operators.ImageIoCodec))

  /** Perceptual near-dup structure over real decoded pixels: 16 groups
    * x {PNG, noisy PNG, JPEG re-encode, reversed content}; the three
    * same-content renderings pair within hamming 3, reversed and
    * cross-group content pair with nothing. */
  def m08RealImagePhash(s: SparkSession, dir: String): DataFrame =
    phashPairTypes(Multimodal.phashPairs(
        MultimodalFixtures.imagePhashAssets(s, nGroups = 16),
        maxHamming = 3, codec = new graft.operators.ImageIoCodec),
      coreVariants = 2)

  /** Amplitude-envelope monotonicity recovered from real WAV PCM: 24
    * groups x {ascending, descending, flat} through
    * [[graft.operators.WavCodec]]. */
  def m09RealAudioDecode(s: SparkSession, dir: String): DataFrame =
    envelopeCounts(Multimodal.decodeFeatures(
      MultimodalFixtures.audioMonotoneAssets(s, nGroups = 24),
      dims = 8, codec = new graft.operators.WavCodec))

  /** Perceptual near-dup structure over real decoded samples: 16
    * groups x {base tone, noisy, time-reversed}; base+noisy pair,
    * reversed and cross-group content do not. */
  def m10RealAudioPhash(s: SparkSession, dir: String): DataFrame =
    phashPairTypes(Multimodal.phashPairs(
        MultimodalFixtures.audioPhashAssets(s, nGroups = 16),
        maxHamming = 3, codec = new graft.operators.WavCodec),
      coreVariants = 1)

  /** Shared m07/m09 aggregate: classify each decoded feature vector's
    * stripe envelope (strictly ascending / strictly descending / flat /
    * mixed) and count per class — the invariant the REAL decode must
    * recover from content. */
  private def envelopeCounts(decoded: DataFrame): DataFrame = {
    val adjacent = (cmp: String) => expr(
      s"forall(zip_with(slice(feature, 1, 7), slice(feature, 2, 7), (a, b) -> a $cmp b), x -> x)")
    decoded.withColumn("envelope",
        when(adjacent("<"), "ascending")
          .when(adjacent(">"), "descending")
          .when(adjacent("="), "flat")
          .otherwise("mixed"))
      .groupBy("envelope").agg(count(lit(1)).as("n"))
      .orderBy("envelope")
  }

  /** Shared m08/m10 aggregate: bucket each near-dup pair by what it
    * connects — same-group core renderings (variants <= coreVariants:
    * the SAME content re-rendered, expected to pair), a reversed-
    * content member of the group (must not pair), or cross-group
    * (must not pair) — with the summed hamming distance. asset_id =
    * group*10 + variant (MultimodalFixtures.generate). */
  private def phashPairTypes(pairs: DataFrame, coreVariants: Int): DataFrame =
    pairs
      .withColumn("ga", floor(col("id_a") / 10))
      .withColumn("gb", floor(col("id_b") / 10))
      .withColumn("va", pmod(col("id_a"), lit(10)))
      .withColumn("vb", pmod(col("id_b"), lit(10)))
      .withColumn("pair_type",
        when(col("ga") === col("gb") &&
            col("va") <= coreVariants && col("vb") <= coreVariants,
          "same_content")
          .when(col("ga") === col("gb"), "reversed_in_group")
          .otherwise("cross_content"))
      .groupBy("pair_type")
      .agg(count(lit(1)).as("n"), sum("hamming").as("total_hamming"))
      .orderBy("pair_type")

  /** Transitive near-dup reach on the Spark 4 `WITH RECURSIVE` SQL
    * surface (the declarative recursion operator whose procedural twin
    * is e13's frontier BFS): hop distance from a flagged seed set
    * (the five lowest-id docs that near-dup anything — guaranteed
    * non-vacuous at every SF) through chains of d02 near-dup edges — "if these
    * documents are contaminated, how far does contamination propagate
    * through near-duplicates". Spark's recursion contract is UNION ALL
    * + an explicit bound (UNION dedup is not yet supported), so the
    * walk re-emits visited nodes and the MIN-hop aggregate collapses
    * them — exact BFS because near-dup components are tiny (the walk
    * count is bounded by cluster_size^maxHop, and clusters are a
    * handful of docs); a dense graph would use the e13 operator tier
    * instead. The edge set is the exact-verified d02 pair table, so
    * the DuckDB twin replays brute-force pairs + the same recursion. */
  def d17DupReach(s: SparkSession, dir: String): DataFrame = {
    // the recursive-CTE SQL needs a named relation for the edge table;
    // spark.sql analyzes EAGERLY (the temp view's plan is inlined into
    // the returned Dataset at analysis), so the view is dropped in the
    // finally below — no catalog state outlives construction, keeping
    // this query as pure as every other (SparkSession, dir) => DataFrame
    Dedup.minhashDedupPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.5)
      .select("id_a", "id_b").createOrReplaceTempView("__d17_edges")
    try s.sql("""WITH RECURSIVE
      |e AS (SELECT id_a AS src, id_b AS dst FROM __d17_edges
      |      UNION SELECT id_b, id_a FROM __d17_edges),
      |seeds AS (SELECT DISTINCT id_a AS doc_id FROM __d17_edges
      |          ORDER BY doc_id LIMIT 5),
      |walk(doc_id, hop) AS (
      |  SELECT doc_id, 0 AS hop FROM seeds
      |  UNION ALL
      |  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.doc_id
      |  WHERE w.hop < 3)
      |SELECT doc_id, CAST(MIN(hop) AS INT) AS hop
      |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    finally s.catalog.dropTempView("__d17_edges")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_tokens" -> t01Tokens,
    "t02_quality" -> t02Quality,
    "t03_langid" -> t03LangId,
    "t04_fingerprint" -> t04Fingerprint,
    "d01_dedup_exact" -> d01DedupExact,
    "d02_dedup_minhash" -> d02DedupMinhash,
    "d03_dedup_simhash" -> d03DedupSimhash,
    "d04_ngram_jaccard" -> d04NgramJaccard,
    "d05_dup_clusters" -> d05DupClusters,
    "d06_dup_triangles" -> d06DupTriangles,
    "d07_dup_spans" -> d07DupSpans,
    "d08_bloom_decontam" -> d08BloomDecontam,
    "d09_incremental_minhash" -> d09IncrementalMinhash,
    "d10_quality_reps" -> d10QualityReps,
    "d11_tfidf_pairs" -> d11TfidfPairs,
    "d12_incremental_tfidf" -> d12IncrementalTfidf,
    "d13_corpus_diff" -> d13CorpusDiff,
    "d14_edit_pairs" -> d14EditPairs,
    "d15_source_overlap" -> d15SourceOverlap,
    "d16_containment" -> d16Containment,
    "t37_oov_rate" -> t37OovRate,
    "t32_bpe_merges" -> t32BpeMerges,
    "t33_bpe_encode" -> t33BpeEncode,
    "t34_ppl_buckets" -> t34PplBuckets,
    "t35_token_entropy" -> t35TokenEntropy,
    "t36_span_scrub" -> t36SpanScrub,
    "t38_pmi_collocations" -> (t38PmiCollocations(_, _)),
    "t39_domain_kl" -> t39DomainKl,
    "t40_zipf_slope" -> (t40ZipfSlope(_, _)),
    "t41_leakfree_split" -> t41LeakfreeSplit,
    "t42_temperature_mix" -> t42TemperatureMix,
    "v24_filtered_knn" -> v24FilteredKnn,
    "v25_ivf_filtered" -> v25IvfFiltered,
    "v26_bq_rerank" -> v26BqRerank,
    "v27_bq_recall" -> v27BqRecall,
    "v28_ivf_trained" -> v28IvfTrained,
    "v29_proto_prune" -> v29ProtoPrune,
    "v30_ivfpq_trained" -> v30IvfPqTrained,
    "v22_rand_proj" -> v22RandProj,
    "v23_knn_graph" -> v23KnnGraph,
    "v32_margin_mining" -> v32MarginMining,
    "v33_label_purity" -> v33LabelPurity,
    "t20_classifier" -> t20Classifier,
    "t21_heavy_hitters" -> t21HeavyHitters,
    "t22_winnow" -> t22Winnow,
    "t23_group_sample" -> t23GroupSample,
    "t24_epoch_mix" -> t24EpochMix,
    "t25_bigram_logprob" -> t25BigramLogprob,
    "t26_lexical_diversity" -> t26LexicalDiversity,
    "t27_novelty" -> t27Novelty,
    "v09_semdedup" -> v09SemDedup,
    "v10_semantic_leak" -> v10SemanticLeak,
    "t05_split" -> t05Split,
    "t06_sample" -> t06Sample,
    "t07_chunks" -> t07Chunks,
    "t08_vocab" -> t08Vocab,
    "t09_repetition" -> t09Repetition,
    "t10_salient" -> t10Salient,
    "t11_pack" -> t11Pack,
    "t12_filter_pass" -> t12FilterPass,
    "t13_boilerplate" -> t13Boilerplate,
    "t14_source_profile" -> t14SourceProfile,
    "t15_contamination" -> t15Contamination,
    "t16_unigram_logprob" -> t16UnigramLogprob,
    "t17_bm25" -> t17Bm25,
    "t18_stratified" -> t18Stratified,
    "t28_domain_cap" -> t28DomainCap,
    "t29_gopher_rules" -> t29GopherRules,
    "t30_dsir" -> t30Dsir,
    "v18_pca_power" -> v18PcaPower,
    "v19_kmeans_fit" -> v19KmeansFit,
    "v20_logreg_fit" -> v20LogregFit,
    "v21_sq_topk" -> v21SqTopK,
    "t31_weighted_sample" -> t31WeightedSample,
    "t19_corpus_manifest" -> t19CorpusManifest,
    "v06_quant_error" -> v06QuantError,
    "v01_ann_brute" -> v01AnnBrute,
    "v02_ann_lsh" -> v02AnnLsh,
    "v03_cosine_near_dup" -> v03CosineNearDup,
    "v04_ann_ivf" -> v04AnnIvf,
    "v05_label_centroids" -> v05LabelCentroids,
    "v07_kmeans_step" -> v07KmeansStep,
    "v08_ann_recall" -> v08AnnRecall,
    "v13_ivf_recall" -> v13IvfRecall,
    "v14_pq_topk" -> v14PqTopK,
    "v15_pq_recall" -> v15PqRecall,
    "v16_ann_ivfpq" -> v16AnnIvfPq,
    "v17_pq_rerank" -> v17PqRerank,
    "v11_mmr_rerank" -> v11MmrRerank,
    "v12_hard_negatives" -> v12HardNegatives,
    "m01_multimodal_meta" -> m01MultimodalMeta,
    "m02_multimodal_decode" -> m02MultimodalDecode,
    "m03_frame_sample" -> m03FrameSample,
    "m04_frame_dedup" -> m04FrameDedup,
    "m05_resize" -> m05Resize,
    "m06_phash_pairs" -> m06PhashPairs,
    // rows-only (no DuckDB oracle — real media decode): exact
    // aggregate rows pinned in MultimodalCodecSpec
    "m07_real_image_decode" -> m07RealImageDecode,
    "m08_real_image_phash" -> m08RealImagePhash,
    "m09_real_audio_decode" -> m09RealAudioDecode,
    "m10_real_audio_phash" -> m10RealAudioPhash,
    "d17_dup_reach" -> d17DupReach,
    "v31_hybrid_rrf" -> v31HybridRrf,
  )

  /** DuckDB twin of [[Dedup.withSimhashChunks]] + brute-force all-pairs
    * hamming: md5(token) hex digits → hi/lo 32-bit halves → 64 signed
    * bit-sums → 4 16-bit chunks → bit_count(xor) over every pair. Same
    * bit layout, same constants, generated — it cannot drift from the
    * Spark expressions by hand-editing one side. */
  private lazy val simhashOracleSql: String = {
    def hexval(c: String) = s"(strpos('0123456789abcdef', $c) - 1)"
    // 8 hex digits starting at 1-based `start` → 32-bit big-endian value
    def word(start: Int) = (0 until 8)
      .map(i => s"${hexval(s"substr(hx, ${start + i}, 1)")} * ${math.pow(16, 7 - i).toLong}")
      .mkString("(", " + ", ")")
    val bitSums = (0 until 64).map { b =>
      val (src, sh) = if (b < 32) ("lo", b) else ("hi", b - 32)
      s"SUM(CASE WHEN (($src // ${1L << sh}) % 2) = 1 THEN 1 ELSE -1 END) AS b$b"
    }
    val chunkExprs = (0 until 4).map { j =>
      (0 until 16).map(t => s"(CASE WHEN b${16 * j + t} > 0 THEN ${1L << t} ELSE 0 END)")
        .mkString("(", " + ", s") AS c$j")
    }
    val ham = (0 until 4).map(j => s"bit_count(xor(a.c$j, b.c$j))").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
       |hl AS (SELECT doc_id, ${word(1)} AS hi, ${word(9)} AS lo FROM h),
       |bits AS (SELECT doc_id, ${bitSums.mkString(", ")} FROM hl GROUP BY doc_id),
       |fp AS (SELECT doc_id, ${chunkExprs.mkString(", ")} FROM bits)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($ham AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE $ham <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- ANN replica oracles ----
  // The hyperplanes are seeded, literal-encoded constants
  // (Similarity.hyperplanes); embedding them in the SQL makes DuckDB
  // replay the exact same bucketing, probing, and re-ranking as the
  // Spark plan — sign/ordering decisions ride on well-separated doubles
  // (min top-k gap ≈ 2e-4 on this corpus, float noise ≈ 1e-15).
  //
  // The PLANE COUNT is not pinned: the Spark side runs the scale-safe
  // [[Similarity.autoPlanes]] count ([[annAutoPlanes]]), and the oracle
  // recomputes the identical count IN SQL from count(*) — `np.p` below,
  // the exact integer twin of autoPlanes (bit-length of buckets-1,
  // validated term-for-term in LshHotBucketSpec). Because hyperplanes()
  // draws planes sequentially from one splitmix64 stream, hyperplanes(p)
  // is a PREFIX of hyperplanes(24) (also pinned in LshHotBucketSpec), so
  // the SQL embeds the 24-plane master and gates each plane's term on
  // `i < np.p` — the replay stays literal while p scales with the corpus.

  private def planeLit(p: Array[Double]): String = p.mkString("[", ",", "]")

  /** Plane-i bucket term, active only when i < np.p — every CTE using
    * it cross-joins the 1-row `np` relation. */
  private def bucketSql(vc: String): String =
    annPlanesMaster.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN $i < np.p AND list_dot_product($vc, ${planeLit(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  private lazy val annPlanesMaster =
    Similarity.hyperplanes(numPlanes = 24, dim = 64, seed = 42L)

  /** SQL twin of [[Similarity.autoPlanes]]/[[Similarity.autoBuckets]]
    * at (count(*), 128): b = ceil(n/128) — the mod-B signature fold
    * that pins expected bucket population exactly — and p =
    * bit-length(max(1, b-1)) clamped to [1,24]. Integer arithmetic
    * only (bin() string length, not float log2) so it can never
    * disagree with the Scala side at a power-of-2 edge. */
  private val npCte: String =
    "np AS (SELECT GREATEST(1, (count(*) + 127) // 128) AS b, " +
      "LEAST(24, GREATEST(1, length(bin(GREATEST(1, (count(*) + 127) // 128 - 1))))) AS p FROM embeddings)"

  /** Multi-probe masks for the 24-plane master: self (0) plus every
    * 1-bit flip below 2^p — `WHERE m < (1 << np.p)` keeps exactly the
    * active planes' flips. */
  private val probeMasks: String =
    (Seq(0L) ++ (0 until 24).map(i => 1L << i)).mkString(", ")

  /** v02 on the shared [[lshTopCte]] block — ONE copy of the LSH
    * multi-probe candidate arithmetic gates v02/v32/v33 alike. */
  private lazy val v02OracleSql: String =
    s"""WITH $npCte,
       |${lshTopCte("s", "1 = 1", "vec_id < 5", 3)}
       |SELECT query_id, neighbor_id, sim4 AS sim, CAST(rank AS BIGINT) AS rank
       |FROM top_s ORDER BY query_id, rank""".stripMargin

  /** The v02 oracle's LSH-multi-probe top-k pipeline as a reusable CTE
    * block, parameterized by corpus/query predicates so the two mining
    * directions (and the self-kNN case) replay the IDENTICAL candidate
    * arithmetic. Callers supply the `np` CTE once. `top_<side>` carries
    * the 4dp-rounded sim — exactly what the Spark `cosineRank` emits —
    * ranked on the raw sim with the neighbor-id tie-break. */
  private def lshTopCte(side: String, corpusPred: String,
      queryPred: String, k: Int): String = {
    s"""c_$side AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE $corpusPred),
       |cb_$side AS (SELECT neighbor_id, v, vn, sig % np.b AS bucket FROM (SELECT neighbor_id, v, sqrt(list_dot_product(v, v)) AS vn, ${bucketSql("v")} AS sig FROM c_$side, np), np),
       |q_$side AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE $queryPred),
       |qb_$side AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qn, ${bucketSql("qv")} AS bucket0 FROM q_$side, np),
       |qp_$side AS (SELECT DISTINCT query_id, qv, qn, xor(bucket0, m) % np.b AS bucket FROM qb_$side, np, (SELECT unnest([$probeMasks]) AS m) WHERE m < (CAST(1 AS BIGINT) << np.p)),
       |cand_$side AS (SELECT DISTINCT query_id, neighbor_id, qv, qn, v, vn FROM qp_$side JOIN cb_$side USING (bucket) WHERE query_id <> neighbor_id),
       |scored_$side AS (SELECT query_id, neighbor_id, list_dot_product(qv, v) / NULLIF(qn * vn, 0.0) AS sim FROM cand_$side),
       |top_$side AS (SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim4, rank FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored_$side) WHERE rank <= $k)""".stripMargin
  }

  /** DuckDB twin of [[Similarity.marginMining]]: the LSH top-k block in
    * both directions, kNN-average denominators summed as DECIMAL(38,4)
    * (exact — the same order-free discipline as the Spark side), margin
    * ranked rounded with the tgt-id tie-break. */
  private lazy val v32OracleSql: String =
    s"""WITH $npCte,
       |${lshTopCte("f", "label >= 5", "label < 5", 4)},
       |${lshTopCte("b", "label < 5", "label >= 5", 4)},
       |den_f AS (SELECT query_id AS src_id,
       |    CAST(SUM(CAST(sim4 AS DECIMAL(38,4))) AS DOUBLE) / count(*) AS deg_src
       |  FROM top_f GROUP BY query_id),
       |den_b AS (SELECT query_id AS tgt_id,
       |    CAST(SUM(CAST(sim4 AS DECIMAL(38,4))) AS DOUBLE) / count(*) AS deg_tgt
       |  FROM top_b GROUP BY query_id),
       |m AS (SELECT t.query_id AS src_id, t.neighbor_id AS tgt_id, t.sim4 AS sim,
       |    ROUND(t.sim4 / NULLIF((f.deg_src + b.deg_tgt) / 2.0, 0.0), 4) AS margin
       |  FROM top_f t JOIN den_f f ON t.query_id = f.src_id
       |  JOIN den_b b ON t.neighbor_id = b.tgt_id)
       |SELECT src_id, tgt_id, sim, margin FROM (
       |  SELECT src_id, tgt_id, sim, margin,
       |    row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
       |  FROM m)
       |WHERE rn = 1 AND margin >= 1.05 ORDER BY src_id""".stripMargin

  /** DuckDB twin of [[Similarity.knnLabelAgreement]]: the self-kNN LSH
    * block, labels attached by id, purity as exact integer ratio. */
  private lazy val v33OracleSql: String =
    s"""WITH $npCte,
       |${lshTopCte("s", "1 = 1", "1 = 1", 4)},
       |lab AS (SELECT vec_id, label FROM embeddings)
       |SELECT t.query_id AS vec_id, ql.label, CAST(count(*) AS BIGINT) AS n_nbrs,
       |  ROUND(CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS purity
       |FROM top_s t JOIN lab ql ON t.query_id = ql.vec_id
       |JOIN lab nl ON t.neighbor_id = nl.vec_id
       |GROUP BY t.query_id, ql.label ORDER BY vec_id""".stripMargin

  /** DuckDB twin of [[Similarity.semDedup]]: the v04 oracle's centroid
    * sample + rn=1 assignment CTEs, then the within-cluster dup scan. */
  private lazy val v09OracleSql: String =
    """WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cn AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS vn FROM c),
      |cent AS (SELECT id AS cid, v AS cv, vn AS ccn FROM cn
      |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
      |assigned AS (
      |  SELECT id, v, vn, cid FROM (
      |    SELECT cn.id, cn.v, cn.vn, cent.cid,
      |      row_number() OVER (PARTITION BY cn.id
      |        ORDER BY list_dot_product(cn.v, cent.cv) / NULLIF(cn.vn * cent.ccn, 0.0) DESC, cent.cid) AS rn
      |    FROM cn, cent) WHERE rn = 1),
      |dups AS (
      |  SELECT DISTINCT y.id FROM assigned x JOIN assigned y
      |    ON x.cid = y.cid AND x.id < y.id
      |  WHERE list_dot_product(x.v, y.v) / NULLIF(x.vn * y.vn, 0.0) >= 0.4)
      |SELECT id AS vec_id, cid,
      |  CASE WHEN id IN (SELECT id FROM dups) THEN 0 ELSE 1 END AS keep
      |FROM assigned ORDER BY vec_id""".stripMargin

  private lazy val v10OracleSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
      |  FROM embeddings)
      |SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
      |  ROUND(list_dot_product(t.v, e.v) / NULLIF(t.n * e.n, 0.0), 4) AS sim
      |FROM c t JOIN c e ON t.vec_id >= 5 AND e.vec_id < 5
      |WHERE list_dot_product(t.v, e.v) / NULLIF(t.n * e.n, 0.0) >= 0.3
      |ORDER BY train_id, eval_id""".stripMargin

  /** DuckDB twin of [[Dedup.dupSpans]] (k=5, minSpan=20): positional
    * 5-grams via generate_series + list slice, the same
    * gaps-and-islands diagonal-run recovery. */
  private lazy val d07OracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
      |grams AS (
      |  SELECT doc_id, i, array_to_string(l[i:i+4], ' ') AS g
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l)-4)) AS i) s),
      |m AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS pa, a.i - b.i AS diag
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
      |runs AS (
      |  SELECT id_a, id_b, diag,
      |    pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) AS run_id
      |  FROM m),
      |spans AS (
      |  SELECT id_a, id_b, COUNT(*) + 4 AS span
      |  FROM runs GROUP BY id_a, id_b, diag, run_id)
      |SELECT id_a, id_b, CAST(MAX(span) AS BIGINT) AS max_span
      |FROM spans GROUP BY id_a, id_b HAVING MAX(span) >= 20
      |ORDER BY id_a, id_b""".stripMargin

  /** t36 extends the d07 oracle past detection: span positions on the
    * later (id_b) side, per-doc interval merge via the running-max
    * island window, then the token-level filter and string rebuild —
    * `clean_text` must match the Spark rebuild byte for byte. */
  private lazy val t36OracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
      |grams AS (
      |  SELECT doc_id, i, array_to_string(l[i:i+4], ' ') AS g
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l)-4)) AS i) s),
      |m AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS pa, a.i - b.i AS diag
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
      |runs AS (
      |  SELECT id_a, id_b, diag, pa,
      |    pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) AS run_id
      |  FROM m),
      |cuts AS (
      |  SELECT DISTINCT id_b AS id, MIN(pa) - diag AS s,
      |    MIN(pa) - diag + COUNT(*) + 3 AS e
      |  FROM runs GROUP BY id_a, id_b, diag, run_id
      |  HAVING COUNT(*) + 4 >= 20),
      |isl AS (
      |  SELECT id, s, e,
      |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808)
      |      THEN 1 ELSE 0 END AS new_isl
      |  FROM cuts),
      |gisl AS (
      |  SELECT id, s, e, SUM(new_isl) OVER (PARTITION BY id ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      |  FROM isl),
      |merged AS (
      |  SELECT id, gid, MIN(s) AS s0, MAX(e) AS e0
      |  FROM gisl GROUP BY id, gid),
      |stats AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |    CAST(SUM(e0 - s0 + 1) AS BIGINT) AS tokens_removed
      |  FROM merged GROUP BY id),
      |pos AS (
      |  SELECT doc_id, i, l[i] AS tok
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) s
      |  WHERE doc_id IN (SELECT id FROM stats)),
      |rem AS (
      |  SELECT DISTINCT p.doc_id, p.i
      |  FROM pos p JOIN merged m ON p.doc_id = m.id AND p.i BETWEEN m.s0 AND m.e0),
      |clean AS (
      |  SELECT p.doc_id,
      |    COALESCE(string_agg(CASE WHEN r.i IS NULL THEN p.tok END, ' ' ORDER BY p.i), '') AS clean_text
      |  FROM pos p LEFT JOIN rem r ON p.doc_id = r.doc_id AND p.i = r.i
      |  GROUP BY p.doc_id)
      |SELECT s.id AS doc_id, s.n_spans, s.tokens_removed, c.clean_text
      |FROM stats s JOIN clean c ON s.id = c.doc_id
      |ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[Similarity.mmrRerank]] (k=3, c=10, λ=0.7),
    * unrolled exactly like the operator. λ and 1−λ are interpolated
    * from the same Scala doubles the operator multiplies by, so both
    * engines compare bit-identical scores. */
  private lazy val v11OracleSql: String = {
    val lam = 0.7
    val mu = (1 - lam).toString // 0.30000000000000004 — match Spark's 1-λ
    s"""WITH c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cn AS (SELECT neighbor_id, v, sqrt(list_dot_product(v, v)) AS vn FROM c),
       |q AS (SELECT neighbor_id AS query_id, v AS qv, vn AS qn FROM cn WHERE neighbor_id < 3),
       |scored AS (
       |  SELECT q.query_id, cn.neighbor_id, cn.v, cn.vn,
       |    list_dot_product(q.qv, cn.v) / NULLIF(q.qn * cn.vn, 0.0) AS sim
       |  FROM q, cn WHERE q.query_id <> cn.neighbor_id),
       |cand AS (SELECT query_id, neighbor_id, v, vn, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |  FROM scored) WHERE rn <= 10),
       |p1 AS (SELECT query_id, neighbor_id AS s1, v AS v1, vn AS n1, sim * $lam AS sc1 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |  FROM cand) WHERE rn = 1),
       |r2 AS (
       |  SELECT cand.query_id, cand.neighbor_id, cand.v, cand.vn, cand.sim,
       |    list_dot_product(cand.v, p1.v1) / NULLIF(cand.vn * p1.n1, 0.0) AS pen
       |  FROM cand JOIN p1 USING (query_id) WHERE cand.neighbor_id <> p1.s1),
       |p2 AS (SELECT query_id, neighbor_id AS s2, v AS v2, vn AS n2,
       |    sim * $lam - pen * $mu AS sc2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY (sim * $lam - pen * $mu) DESC, neighbor_id) AS rn
       |  FROM r2) WHERE rn = 1),
       |r3 AS (
       |  SELECT r2.query_id, r2.neighbor_id, r2.sim,
       |    GREATEST(r2.pen, list_dot_product(r2.v, p2.v2) / NULLIF(r2.vn * p2.n2, 0.0)) AS pen
       |  FROM r2 JOIN p2 USING (query_id) WHERE r2.neighbor_id <> p2.s2),
       |p3 AS (SELECT query_id, neighbor_id AS s3,
       |    sim * $lam - pen * $mu AS sc3 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY (sim * $lam - pen * $mu) DESC, neighbor_id) AS rn
       |  FROM r3) WHERE rn = 1)
       |SELECT query_id, s1 AS neighbor_id, CAST(1 AS BIGINT) AS mmr_rank, ROUND(sc1, 4) AS mmr_score FROM p1
       |UNION ALL SELECT query_id, s2, 2, ROUND(sc2, 4) FROM p2
       |UNION ALL SELECT query_id, s3, 3, ROUND(sc3, 4) FROM p3
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  private lazy val v03OracleSql: String =
    s"""WITH $npCte,
       |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT id, v, n, sig % np.b AS bucket FROM (SELECT id, v, sqrt(list_dot_product(v, v)) AS n, ${bucketSql("v")} AS sig FROM c, np), np)
       |SELECT a.id AS id_a, bb.id AS id_b,
       |  ROUND(list_dot_product(a.v, bb.v) / NULLIF(a.n * bb.n, 0.0), 4) AS sim
       |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.id < bb.id
       |WHERE list_dot_product(a.v, bb.v) / NULLIF(a.n * bb.n, 0.0) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  /** v13 replays the v01 truth and the v04 IVF probe as CTEs and
    * recomputes the same left-join recall (the v08 pattern). */
  private lazy val v13OracleSql: String =
    s"""WITH truth AS ($v01OracleSql),
       |approx AS ($v04OracleSql)
       |SELECT t.query_id,
       |  ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 4) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  /** v27 replays the v01 truth and the v26 BQ chain as CTEs and
    * recomputes the same left-join recall (the v08 pattern) — the
    * fourth index family gets its quality gate. */
  private lazy val v27OracleSql: String =
    s"""WITH truth AS ($v01OracleSql),
       |approx AS ($v26OracleSql)
       |SELECT t.query_id,
       |  ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 4) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  /** DuckDB twin of [[Similarity.pqTopK]] at the v14 defaults (m=8,
    * dsub=8, nCodes=16): same md5-sampled codebook, same three-dot L2²
    * per subspace, and the ADC sum textually unrolled in subspace order
    * so every double matches the Spark left-assoc fold bit-for-bit. */
  private lazy val v14OracleSql: String = v14OracleSqlK(3)

  private val pqM = 8; private val pqDsub = 8; private val pqNCodes = 16

  /** The unrolled ADC walk over aliases `l` (lut) and `cd` (codes).
    * lut is flattened (j, cidx)-ordered; codes list is j-ordered.
    * DuckDB lists are 1-based: slot j*nCodes + codes[j+1] + 1. */
  private lazy val pqAdcSqlExpr: String = (0 until pqM).map(j =>
    s"l.lut[$j*$pqNCodes + cd.codes[${j + 1}] + 1]").mkString(" + ")

  /** The PQ machinery CTE text (codebook explode, per-subspace encode,
    * codes, per-query LUT) shared VERBATIM by the v14 and v16 replicas —
    * one definition so the two oracles cannot fork. Expects upstream
    * CTEs `c` (id, v), `cent` (cid, cv, ...), `q` (query_id, qv). */
  private lazy val pqMachineryCtes: String = {
    val m = pqM; val dsub = pqDsub; val nCodes = pqNCodes
    s"""cb AS (SELECT t.j, cid,
       |    CAST(row_number() OVER (PARTITION BY t.j ORDER BY cid) - 1 AS INT) AS cidx,
       |    cv[(t.j*$dsub+1):(t.j*$dsub+$dsub)] AS cs,
       |    list_dot_product(cv[(t.j*$dsub+1):(t.j*$dsub+$dsub)],
       |                     cv[(t.j*$dsub+1):(t.j*$dsub+$dsub)]) AS csq
       |  FROM cent, (SELECT CAST(range AS INT) AS j FROM range($m)) t),
       |sub AS (SELECT id, t.j, v[(t.j*$dsub+1):(t.j*$dsub+$dsub)] AS xs,
       |    list_dot_product(v[(t.j*$dsub+1):(t.j*$dsub+$dsub)],
       |                     v[(t.j*$dsub+1):(t.j*$dsub+$dsub)]) AS xsq
       |  FROM c, (SELECT CAST(range AS INT) AS j FROM range($m)) t),
       |enc AS (SELECT id, j, cidx FROM (
       |  SELECT sub.id, sub.j, cb.cidx,
       |    row_number() OVER (PARTITION BY sub.id, sub.j ORDER BY
       |      sub.xsq - 2*list_dot_product(sub.xs, cb.cs) + cb.csq ASC, cb.cidx) AS rn
       |  FROM sub JOIN cb ON sub.j = cb.j) WHERE rn = 1),
       |codes AS (SELECT id, list(cidx ORDER BY j) AS codes FROM enc GROUP BY id),
       |qsub AS (SELECT query_id, t.j, qv[(t.j*$dsub+1):(t.j*$dsub+$dsub)] AS qs,
       |    list_dot_product(qv[(t.j*$dsub+1):(t.j*$dsub+$dsub)],
       |                     qv[(t.j*$dsub+1):(t.j*$dsub+$dsub)]) AS qsq
       |  FROM q, (SELECT CAST(range AS INT) AS j FROM range($m)) t),
       |lut AS (SELECT query_id,
       |    list(qsub.qsq - 2*list_dot_product(qsub.qs, cb.cs) + cb.csq
       |         ORDER BY qsub.j*$nCodes + cb.cidx) AS lut
       |  FROM qsub JOIN cb ON qsub.j = cb.j GROUP BY query_id)""".stripMargin
  }

  /** The v14 replica parameterized by k — v17's re-rank replays it at
    * shortlist size. */
  private def v14OracleSqlK(k: Int): String =
    s"""WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT id AS cid, v AS cv FROM c
       |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $pqNCodes),
       |q AS (SELECT id AS query_id, v AS qv FROM c WHERE id < 5),
       |$pqMachineryCtes,
       |scored AS (SELECT l.query_id, cd.id AS neighbor_id, $pqAdcSqlExpr AS adist
       |  FROM codes cd, lut l WHERE l.query_id <> cd.id)
       |SELECT query_id, neighbor_id, ROUND(adist, 4) AS adist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, neighbor_id) AS BIGINT) AS rank
       |FROM scored QUALIFY rank <= $k ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of [[Similarity.ivfPqTopK]] at the v16 defaults: the
    * v04 machinery (md5-sampled centroids, cosine assignment, rn<=4
    * probes) composed with the v14 machinery (same-sample codebook —
    * nCentroids == nCodes, so ONE sampled table seeds both — codes,
    * LUTs, unrolled ADC), candidates restricted to each query's probed
    * lists. Every piece is the same text as the oracle that already
    * gates it alone. */
  private lazy val v16OracleSql: String =
    s"""WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cn AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS vn FROM c),
       |cent AS (SELECT id AS cid, v AS cv, vn AS ccn FROM cn
       |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $pqNCodes),
       |assigned AS (SELECT id, cid FROM (
       |  SELECT cn.id, cent.cid,
       |    row_number() OVER (PARTITION BY cn.id
       |      ORDER BY list_dot_product(cn.v, cent.cv) / NULLIF(cn.vn * cent.ccn, 0.0) DESC, cent.cid) AS rn
       |  FROM cn, cent) WHERE rn = 1),
       |q AS (SELECT id AS query_id, v AS qv FROM c WHERE id < 5),
       |qn AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qnn FROM q),
       |probes AS (SELECT query_id, cid FROM (
       |  SELECT qn.query_id, cent.cid,
       |    row_number() OVER (PARTITION BY qn.query_id
       |      ORDER BY list_dot_product(qn.qv, cent.cv) / NULLIF(qn.qnn * cent.ccn, 0.0) DESC, cent.cid) AS rn
       |  FROM qn, cent) WHERE rn <= 4),
       |$pqMachineryCtes,
       |scored AS (SELECT l.query_id, cd.id AS neighbor_id, $pqAdcSqlExpr AS adist
       |  FROM codes cd
       |  JOIN assigned a ON cd.id = a.id
       |  JOIN probes p ON p.cid = a.cid
       |  JOIN lut l ON l.query_id = p.query_id
       |  WHERE l.query_id <> cd.id)
       |SELECT query_id, neighbor_id, ROUND(adist, 4) AS adist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, neighbor_id) AS BIGINT) AS rank
       |FROM scored QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** v30 composes the v19 kmeans chain (16 centroids, 3 iterations)
    * with the VERBATIM v14/v16 PQ machinery: list assignment and
    * probes run against the trained `cent3`, while the PQ codebook's
    * `cent` stays the md5 sample `cent0` (the [[Similarity
    * .ivfPqTrainedTopK]] contract — training tightens the lists, the
    * codebook is a separate knob). */
  private lazy val v30OracleSql: String = {
    val iters = 3; val nProbe = 4
    s"""WITH ${kmeansOracleCtes(pqNCodes, iters, 64)},
       |assigned AS (SELECT id, cid FROM (
       |  SELECT cn.id, ct.cid,
       |    row_number() OVER (PARTITION BY cn.id
       |      ORDER BY list_dot_product(cn.v, ct.cv) / NULLIF(cn.vn * ct.ccn, 0.0) DESC, ct.cid) AS rn
       |  FROM cn, cent$iters ct) WHERE rn = 1),
       |q AS (SELECT id AS query_id, v AS qv FROM c WHERE id < 5),
       |qn AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qnn FROM q),
       |probes AS (SELECT query_id, cid FROM (
       |  SELECT qn.query_id, ct.cid,
       |    row_number() OVER (PARTITION BY qn.query_id
       |      ORDER BY list_dot_product(qn.qv, ct.cv) / NULLIF(qn.qnn * ct.ccn, 0.0) DESC, ct.cid) AS rn
       |  FROM qn, cent$iters ct) WHERE rn <= $nProbe),
       |cent AS (SELECT cid, cv FROM cent0),
       |$pqMachineryCtes,
       |scored AS (SELECT l.query_id, cd.id AS neighbor_id, $pqAdcSqlExpr AS adist
       |  FROM codes cd
       |  JOIN assigned a ON cd.id = a.id
       |  JOIN probes p ON p.cid = a.cid
       |  JOIN lut l ON l.query_id = p.query_id
       |  WHERE l.query_id <> cd.id)
       |SELECT query_id, neighbor_id, ROUND(adist, 4) AS adist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, neighbor_id) AS BIGINT) AS rank
       |FROM scored QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** v17 replays the v14 shortlist at size 20 and re-ranks it with the
    * exact cosine (the v01 sim), top-3. */
  private lazy val v17OracleSql: String =
    s"""WITH approx AS (${v14OracleSqlK(20)}),
       |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
       |rescored AS (
       |  SELECT a.query_id, a.neighbor_id,
       |    list_cosine_similarity(qv.qv, CAST(e.embedding AS DOUBLE[])) AS sim
       |  FROM approx a
       |  JOIN qv ON qv.query_id = a.query_id
       |  JOIN embeddings e ON e.vec_id = a.neighbor_id)
       |SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
       |FROM rescored QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** v15 replays the v01 truth and the v14 PQ search as CTEs and
    * recomputes the same left-join recall (the v08/v13 pattern). */
  private lazy val v15OracleSql: String =
    s"""WITH truth AS ($v01OracleSql),
       |approx AS ($v14OracleSql)
       |SELECT t.query_id,
       |  ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 4) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  private lazy val v04OracleSql: String =
    """WITH c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cn AS (SELECT neighbor_id, v, sqrt(list_dot_product(v, v)) AS vn FROM c),
      |cent AS (SELECT neighbor_id AS cid, v AS cv, vn AS cn FROM cn
      |         ORDER BY md5(CAST(neighbor_id AS VARCHAR)), neighbor_id LIMIT 16),
      |assigned AS (
      |  SELECT neighbor_id, v, vn, cid FROM (
      |    SELECT cn.neighbor_id, cn.v, cn.vn, cent.cid,
      |      row_number() OVER (PARTITION BY cn.neighbor_id
      |        ORDER BY list_dot_product(cn.v, cent.cv) / NULLIF(cn.vn * cent.cn, 0.0) DESC, cent.cid) AS rn
      |    FROM cn, cent) WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
      |qn AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qn FROM q),
      |probes AS (
      |  SELECT query_id, qv, qn, cid FROM (
      |    SELECT qn.query_id, qn.qv, qn.qn, cent.cid,
      |      row_number() OVER (PARTITION BY qn.query_id
      |        ORDER BY list_dot_product(qn.qv, cent.cv) / NULLIF(qn.qn * cent.cn, 0.0) DESC, cent.cid) AS rn
      |    FROM qn, cent) WHERE rn <= 4),
      |scored AS (
      |  SELECT p.query_id, a.neighbor_id,
      |    list_dot_product(p.qv, a.v) / NULLIF(p.qn * a.vn, 0.0) AS sim
      |  FROM probes p JOIN assigned a USING (cid)
      |  WHERE p.query_id <> a.neighbor_id)
      |SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** [[Similarity.bqRerankTopK]] replayed: sign-bit codes packed into
    * two 32-bit halves (BIGINT-safe — the Spark side packs one long;
    * hamming is identical either way), hamming shortlist with the same
    * (ham, id) tiebreak, exact cosine re-rank. */
  private lazy val v26OracleSql: String = {
    def half(v: String, from: Int): String = (0 until 32)
      .map(i => s"(CASE WHEN $v[${from + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")
    s"""WITH c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |code AS (SELECT neighbor_id, v, ${half("v", 0)} AS lo, ${half("v", 32)} AS hi FROM c),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
       |qcode AS (SELECT query_id, qv, ${half("qv", 0)} AS qlo, ${half("qv", 32)} AS qhi FROM q),
       |ham AS (
       |  SELECT q.query_id, c.neighbor_id, q.qv, c.v,
       |    bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi)) AS ham
       |  FROM code c, qcode q WHERE c.neighbor_id <> q.query_id),
       |short AS (
       |  SELECT query_id, neighbor_id, qv, v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS rn
       |    FROM ham) WHERE rn <= 32),
       |scored AS (
       |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, v) AS sim FROM short)
       |SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
       |FROM scored QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** v04's IVF replica with the label carried through assignment and
    * probes, and the per-query label-equality constraint applied to the
    * probed candidates before scoring — [[Similarity.ivfFilteredTopK]]
    * replayed step for step. */
  private lazy val v25OracleSql: String =
    """WITH c AS (SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cn AS (SELECT neighbor_id, label, v, sqrt(list_dot_product(v, v)) AS vn FROM c),
      |cent AS (SELECT neighbor_id AS cid, v AS cv, vn AS ccn FROM cn
      |         ORDER BY md5(CAST(neighbor_id AS VARCHAR)), neighbor_id LIMIT 16),
      |assigned AS (
      |  SELECT neighbor_id, label, v, vn, cid FROM (
      |    SELECT cn.neighbor_id, cn.label, cn.v, cn.vn, cent.cid,
      |      row_number() OVER (PARTITION BY cn.neighbor_id
      |        ORDER BY list_dot_product(cn.v, cent.cv) / NULLIF(cn.vn * cent.ccn, 0.0) DESC, cent.cid) AS rn
      |    FROM cn, cent) WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
      |qn AS (SELECT query_id, label, qv, sqrt(list_dot_product(qv, qv)) AS qn FROM q),
      |probes AS (
      |  SELECT query_id, label, qv, qn, cid FROM (
      |    SELECT qn.query_id, qn.label, qn.qv, qn.qn, cent.cid,
      |      row_number() OVER (PARTITION BY qn.query_id
      |        ORDER BY list_dot_product(qn.qv, cent.cv) / NULLIF(qn.qn * cent.ccn, 0.0) DESC, cent.cid) AS rn
      |    FROM qn, cent) WHERE rn <= 4),
      |scored AS (
      |  SELECT p.query_id, a.neighbor_id,
      |    list_dot_product(p.qv, a.v) / NULLIF(p.qn * a.vn, 0.0) AS sim
      |  FROM probes p JOIN assigned a USING (cid)
      |  WHERE p.query_id <> a.neighbor_id AND p.label = a.label)
      |SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of [[Similarity.kmeansStep]]: same md5-sampled
    * centroids and rn=1 cosine assignment as the v04 oracle, then 64
    * generated per-dimension means and the L2 shift against the old
    * centroid. */
  private lazy val v07OracleSql: String = {
    val avgs = (0 until 64).map(k => s"avg(v[${k + 1}]) AS m$k").mkString(", ")
    val shift = (0 until 64).map(k =>
      s"(m$k - cv[${k + 1}]) * (m$k - cv[${k + 1}])").mkString(" + ")
    s"""WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cn AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS vn FROM c),
       |cent AS (SELECT id AS cid, v AS cv, vn AS ccn FROM cn
       |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
       |assigned AS (
       |  SELECT id, v, cid FROM (
       |    SELECT cn.id, cn.v, cent.cid,
       |      row_number() OVER (PARTITION BY cn.id
       |        ORDER BY list_dot_product(cn.v, cent.cv) / NULLIF(cn.vn * cent.ccn, 0.0) DESC, cent.cid) AS rn
       |    FROM cn, cent) WHERE rn = 1),
       |means AS (SELECT cid, CAST(count(*) AS BIGINT) AS n, $avgs FROM assigned GROUP BY cid)
       |SELECT m.cid, m.n, ROUND(sqrt($shift), 4) AS shift
       |FROM means m JOIN cent USING (cid) ORDER BY m.cid""".stripMargin
  }

  /** DuckDB twin of [[Similarity.kmeansFit]] at (k=8, iters=2, dim=64):
    * the same md5-seeded centroids, then every Lloyd iteration replayed
    * — raw-cosine argmax assignment (ties to the smallest cid),
    * 6dp-rounded decimal-exact means, empty centroids keeping their
    * position — and the same final population / mean-cosine report.
    * (Zero-norm vectors would diverge — Spark excludes them, SQL
    * row_number can't — but the corpus has none and the operator
    * documents the exclusion.) */
  /** Twin of [[t30Dsir]]: same md5-bucket arithmetic as
    * [[TextFns.classifierScoreSql]], same uni+bigram gram set as the d02
    * shingle oracle, add-1 smoothing replayed literally. */
  private lazy val t30OracleSql: String = {
    val v = (1 to 4).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(gram), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
      .mkString("(", " + ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
       |g AS (SELECT doc_id, lang, unnest(list_concat(tk,
       |    CASE WHEN len(tk) >= 2
       |      THEN [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]
       |      ELSE [] END)) AS gram FROM toks),
       |b AS (SELECT doc_id, lang, ($v % 256) AS bucket FROM g),
       |c AS (SELECT bucket, count(*) AS c_raw,
       |    count(CASE WHEN lang = 'en' THEN 1 END) AS c_tgt FROM b GROUP BY bucket),
       |t AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM c),
       |p AS (SELECT bucket, CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + 256) AS p_tgt,
       |    CAST(c_raw + 1 AS DOUBLE) / (n_raw + 256) AS p_raw FROM c CROSS JOIN t)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  ROUND(AVG(ln(p_tgt / p_raw)), 4) AS log_ratio,
       |  CASE WHEN ROUND(AVG(ln(p_tgt / p_raw)), 4) > 0 THEN 1 ELSE 0 END AS selected
       |FROM b JOIN p USING (bucket) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The iteration-exact k-means CTE chain (the v19 arithmetic:
    * md5-seeded cent0, ROUND(sim, 6) assignment ties to smallest cid,
    * 6dp decimal-exact means, empty centroids keep position) —
    * parameterized so v19's fit report and v28's trained-IVF gate
    * replay the SAME Lloyd loop from one definition. Emits `c`, `cn`,
    * `cent0` … `cent$iters` (cid, cv, ccn). */
  private def kmeansAssignCte(a: String, cent: String): String = {
    val sim = s"COALESCE(list_dot_product(cn.v, ct.cv) / NULLIF(cn.vn * ct.ccn, 0.0), -2.0)"
    s"""$a AS (
       |  SELECT id, v, cid, sim FROM (
       |    SELECT cn.id, cn.v, ct.cid, ROUND($sim, 6) AS sim,
       |      row_number() OVER (PARTITION BY cn.id ORDER BY $sim DESC, ct.cid) AS rn
       |    FROM cn, $cent ct) WHERE rn = 1)""".stripMargin
  }

  private def kmeansOracleCtes(k: Int, iters: Int, dim: Int): String = {
    def updateCtes(i: Int) = {
      val means = (1 to dim).map(j =>
        s"ROUND(CAST(SUM(CAST(ROUND(v[$j], 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS m_$j")
      s"""m$i AS (SELECT cid, ${means.mkString(", ")} FROM a$i GROUP BY cid),
         |cent$i AS (
         |  SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS ccn FROM (
         |    SELECT p.cid,
         |      CASE WHEN m.cid IS NULL THEN p.cv
         |           ELSE [${(1 to dim).map(j => s"m_$j").mkString(", ")}] END AS cv
         |    FROM cent${i - 1} p LEFT JOIN m$i m USING (cid)))""".stripMargin
    }
    val iterCtes = (1 to iters)
      .map(i => kmeansAssignCte(s"a$i", s"cent${i - 1}") + ",\n" + updateCtes(i))
      .mkString(",\n")
    s"""c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cn AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS vn FROM c),
       |cent0 AS (SELECT id AS cid, v AS cv, vn AS ccn FROM cn
       |          ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $k)${if (iters > 0) ",\n" + iterCtes else ""}""".stripMargin
  }

  private lazy val v19OracleSql: String = {
    val dim = 64; val k = 8; val iters = 2
    s"""WITH ${kmeansOracleCtes(k, iters, dim)},
       |${kmeansAssignCte("af", s"cent$iters")},
       |r AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
       |  ROUND(CAST(SUM(CAST(sim AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 4) AS mean_sim
       |  FROM af GROUP BY cid)
       |SELECT ct.cid, CAST(COALESCE(r.n, 0) AS BIGINT) AS n, r.mean_sim
       |FROM cent$iters ct LEFT JOIN r USING (cid) ORDER BY cid""".stripMargin
  }

  /** v28 replays the trained-centroid IVF against the sampled-centroid
    * IVF on the same corpus and query set: the kmeans CTE chain
    * (16 centroids, 3 Lloyd iterations) feeds the probed search as
    * `cent3`, `cent0` doubles as the md5-sampled yardstick (the
    * [[Similarity.ivfTopK]] centroid contract — same md5 order, same
    * LIMIT), and both recalls come from one brute-force truth. */
  private lazy val v28OracleSql: String = {
    val k = 16; val iters = 3; val nProbe = 4; val topK = 3; val nQ = 50
    // the IVF tail vs a given centroid CTE (cid, cv, ccn): assignment,
    // probes, scored candidates, top-k — the v04 machinery text
    def ivfApprox(tag: String, cent: String) =
      s"""assigned$tag AS (
         |  SELECT neighbor_id, v, vn, cid FROM (
         |    SELECT cn.id AS neighbor_id, cn.v, cn.vn, ct.cid,
         |      row_number() OVER (PARTITION BY cn.id
         |        ORDER BY list_dot_product(cn.v, ct.cv) / NULLIF(cn.vn * ct.ccn, 0.0) DESC, ct.cid) AS rn
         |    FROM cn, $cent ct) WHERE rn = 1),
         |probes$tag AS (
         |  SELECT query_id, qv, qn, cid FROM (
         |    SELECT qn2.query_id, qn2.qv, qn2.qn, ct.cid,
         |      row_number() OVER (PARTITION BY qn2.query_id
         |        ORDER BY list_dot_product(qn2.qv, ct.cv) / NULLIF(qn2.qn * ct.ccn, 0.0) DESC, ct.cid) AS rn
         |    FROM qn2, $cent ct) WHERE rn <= $nProbe),
         |approx$tag AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, a.neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id ORDER BY
         |        list_dot_product(p.qv, a.v) / NULLIF(p.qn * a.vn, 0.0) DESC, a.neighbor_id) AS rank
         |    FROM probes$tag p JOIN assigned$tag a USING (cid)
         |    WHERE p.query_id <> a.neighbor_id) WHERE rank <= $topK)""".stripMargin
    def recall(tag: String, as: String) =
      s"""r$tag AS (
         |  SELECT t.query_id,
         |    ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |      / COUNT(*), 4) AS $as
         |  FROM truth t LEFT JOIN approx$tag a
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY t.query_id)""".stripMargin
    s"""WITH ${kmeansOracleCtes(k, iters, 64)},
       |qn2 AS (SELECT id AS query_id, v AS qv, vn AS qn FROM cn WHERE id < $nQ),
       |${ivfApprox("_t", s"cent$iters")},
       |${ivfApprox("_s", "cent0")},
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT qn2.query_id, cn.id AS neighbor_id,
       |      row_number() OVER (PARTITION BY qn2.query_id
       |        ORDER BY list_dot_product(qn2.qv, cn.v) / NULLIF(qn2.qn * cn.vn, 0.0) DESC, cn.id) AS rank
       |    FROM qn2, cn WHERE qn2.query_id <> cn.id) WHERE rank <= $topK),
       |${recall("_t", "recall_trained")},
       |${recall("_s", "recall_sampled")}
       |SELECT r_t.query_id, r_t.recall_trained, r_s.recall_sampled
       |FROM r_t JOIN r_s USING (query_id) ORDER BY query_id""".stripMargin
  }

  /** v29 replays the v19 kmeans chain (8 centroids, 2 iterations), the
    * final 6dp assignment, and the per-cluster prototypicality window —
    * rank on the ROUNDED sim (both engines order the identical 6dp
    * value, id tie-break), prune cut at floor(0.25·n). */
  private lazy val v29OracleSql: String = {
    val k = 8; val iters = 2; val pruneFrac = 0.25
    s"""WITH ${kmeansOracleCtes(k, iters, 64)},
       |${kmeansAssignCte("af", s"cent$iters")},
       |sz AS (SELECT cid, COUNT(*) AS n FROM af GROUP BY cid),
       |rk AS (SELECT id, cid, sim,
       |  row_number() OVER (PARTITION BY cid ORDER BY sim DESC, id) AS rank
       |  FROM af)
       |SELECT rk.id AS vec_id, rk.cid, rk.sim + 0.0 AS proto_sim,
       |  CAST(rank AS BIGINT) AS rank,
       |  CAST(rank > CAST(floor($pruneFrac * sz.n) AS BIGINT) AS INT) AS keep
       |FROM rk JOIN sz USING (cid) ORDER BY vec_id""".stripMargin
  }

  private lazy val t12OracleSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
      |sh AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(tk) < 3 THEN 1 ELSE len(tk) - 2 END AS n_raw,
      |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
      |    END AS shl
      |  FROM toks),
      |m AS (
      |  SELECT doc_id,
      |    ${TextFns.qualityScoreSql("text")} AS quality,
      |    ${TextFns.langIdSql("text")} AS lang_pred,
      |    ROUND(1.0 - CAST(len(shl) AS DOUBLE) / n_raw, 4) AS rep_ratio
      |  FROM sh)
      |SELECT doc_id, quality, lang_pred, rep_ratio,
      |  CAST(quality >= 0.3 AND lang_pred = 'en' AND rep_ratio < 0.2 AS INT) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  private lazy val t05OracleSql: String =
    "SELECT doc_id, CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'val' " +
      "ELSE 'test' END AS split FROM (SELECT doc_id, " +
      "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b " +
      "FROM documents) ORDER BY doc_id"

  /** t19 composes the pipeline stages' own oracles as CTEs — the
    * manifest's truth is BY CONSTRUCTION consistent with t12/d05/t05's:
    * one green hash proves the composed Spark pipeline agrees with the
    * composed ground truth end to end. */
  private lazy val t19OracleSql: String =
    s"""WITH q AS ($t12OracleSql),
       |c AS ($d05OracleSql),
       |sp AS ($t05OracleSql)
       |SELECT q.doc_id, sp.split, q.keep,
       |  CAST(c.cluster_id = q.doc_id AS INT) AS is_rep,
       |  CAST(q.keep = 1 AND c.cluster_id = q.doc_id AS INT) AS selected
       |FROM q JOIN c ON q.doc_id = c.doc_id JOIN sp ON q.doc_id = sp.doc_id
       |ORDER BY q.doc_id""".stripMargin

  /** The brute-force all-pairs dup-pair CTE chain (toks → 3-shingles →
    * jaccard ≥ 0.5 pairs) shared by the d05 closure and d06 triangle
    * oracles. */
  private lazy val dupPairsCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
      |    END AS sh
      |  FROM toks),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5)""".stripMargin

  private lazy val d05OracleSql: String =
    s"""WITH RECURSIVE $dupPairsCtes,
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT doc_id AS src, doc_id AS dst FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      |SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** d10 replays the d05 closure and re-derives the rep per cluster by
    * (quality desc, doc_id) — same 4dp-rounded quality as t02's oracle,
    * so the ordering (and the verdict) is engine-invariant. */
  private lazy val d10OracleSql: String =
    s"""WITH c AS ($d05OracleSql),
       |q AS (SELECT doc_id, ${TextFns.qualityScoreSql("text")} AS q FROM documents),
       |j AS (SELECT c.doc_id, c.cluster_id, q.q FROM c JOIN q USING (doc_id)),
       |rep AS (SELECT cluster_id, doc_id AS rep_id FROM (
       |  SELECT cluster_id, doc_id,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
       |  FROM j) WHERE rn = 1)
       |SELECT j.doc_id, j.cluster_id, rep.rep_id,
       |  CAST(j.doc_id = rep.rep_id AS INT) AS kept
       |FROM j JOIN rep USING (cluster_id) ORDER BY j.doc_id""".stripMargin

  private lazy val d06OracleSql: String =
    s"""WITH $dupPairsCtes
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM pairs e1
      |JOIN pairs e2 ON e1.id_b = e2.id_a
      |JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b""".stripMargin

  private lazy val v01OracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim
      |  FROM q, embeddings e WHERE e.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
      |FROM scored
      |QUALIFY rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** v23 replays the whole chain — the v02 multi-probe LSH top-k (same
    * planes, same probes, rank ≤ 2, every vector a query), the
    * mutuality join, and the component closure as a recursive CTE
    * (d05's pattern). */
  private lazy val v23OracleSql: String = {
    s"""WITH RECURSIVE $npCte,
      |c AS (
      |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cb AS (SELECT neighbor_id, v, vn, sig % np.b AS bucket FROM (
      |       SELECT neighbor_id, v, sqrt(list_dot_product(v, v)) AS vn,
      |         ${bucketSql("v")} AS sig FROM c, np), np),
      |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings),
      |qb AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qn,
      |       ${bucketSql("qv")} AS bucket0 FROM q, np),
      |qp AS (SELECT DISTINCT query_id, qv, qn, xor(bucket0, m) % np.b AS bucket
      |       FROM qb, np, (SELECT unnest([$probeMasks]) AS m)
      |       WHERE m < (CAST(1 AS BIGINT) << np.p)),
      |cand AS (SELECT DISTINCT query_id, neighbor_id, qv, qn, v, vn
      |         FROM qp JOIN cb USING (bucket) WHERE query_id <> neighbor_id),
      |scored AS (SELECT query_id AS qa, neighbor_id AS qb,
      |    list_dot_product(qv, v) / NULLIF(qn * vn, 0.0) AS sim FROM cand),
      |topk AS (
      |  SELECT qa, qb FROM (
      |    SELECT qa, qb,
      |      row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rn
      |    FROM scored) WHERE rn <= 2),
      |mutual AS (
      |  SELECT t1.qa AS id_a, t1.qb AS id_b
      |  FROM topk t1 JOIN topk t2 ON t1.qa = t2.qb AND t1.qb = t2.qa
      |  WHERE t1.qa < t1.qb),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM mutual
      |  UNION SELECT id_b, id_a FROM mutual),
      |reach AS (
      |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (
      |  SELECT src AS vec_id, CAST(MIN(dst) AS BIGINT) AS cluster_id
      |  FROM reach GROUP BY src)
      |SELECT vec_id, cluster_id,
      |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS comp_size
      |FROM comp ORDER BY vec_id""".stripMargin
  }

  /** v08 replays BOTH sides — the v01 truth and the v02 LSH probe — as
    * CTEs and recomputes the same left-join recall. */
  private lazy val v08OracleSql: String =
    s"""WITH truth AS ($v01OracleSql),
       |approx AS ($v02OracleSql)
       |SELECT t.query_id,
       |  ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 4) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  private lazy val v05OracleSql: String = {
    val avgs = (1 to 64).map(k =>
      s"avg(CAST(embedding[$k] AS DOUBLE)) AS a$k").mkString(", ")
    val norm = (1 to 64).map(k => s"a$k * a$k").mkString(" + ")
    s"""WITH c AS (SELECT label, CAST(count(*) AS BIGINT) AS n, $avgs FROM embeddings GROUP BY label)
       |SELECT label, n, ROUND(sqrt($norm), 4) AS centroid_norm FROM c ORDER BY label""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "v05_label_centroids" -> v05OracleSql,
    "v07_kmeans_step" -> v07OracleSql,
    "v02_ann_lsh" -> v02OracleSql,
    "v03_cosine_near_dup" -> v03OracleSql,
    "v04_ann_ivf" -> v04OracleSql,
    "v25_ivf_filtered" -> v25OracleSql,
    "v26_bq_rerank" -> v26OracleSql,
    "v27_bq_recall" -> v27OracleSql,
    "v28_ivf_trained" -> v28OracleSql,
    "v29_proto_prune" -> v29OracleSql,
    "v30_ivfpq_trained" -> v30OracleSql,
    "v09_semdedup" -> v09OracleSql,
    "v32_margin_mining" -> v32OracleSql,
    "v33_label_purity" -> v33OracleSql,
    "v10_semantic_leak" -> v10OracleSql,
    "v11_mmr_rerank" -> v11OracleSql,
    "v12_hard_negatives" ->
      s"""WITH $npCte,
         |c AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT id, label, v, n, sig % np.b AS bucket FROM (SELECT id, label, v, sqrt(list_dot_product(v, v)) AS n, ${bucketSql("v")} AS sig FROM c, np), np)
         |SELECT a.id AS id_a, bb.id AS id_b, a.label AS label_a, bb.label AS label_b,
         |  ROUND(list_dot_product(a.v, bb.v) / NULLIF(a.n * bb.n, 0.0), 4) AS sim
         |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.id < bb.id
         |WHERE list_dot_product(a.v, bb.v) / NULLIF(a.n * bb.n, 0.0) >= 0.3
         |  AND a.label <> bb.label
         |ORDER BY id_a, id_b""".stripMargin,
    "d07_dup_spans" -> d07OracleSql,
    "t36_span_scrub" -> t36OracleSql,
    "d08_bloom_decontam" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+4], ' ') for i in range(1, len(tk) - 3)])
        |    END AS sh
        |  FROM toks),
        |u AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |ev AS (SELECT s, doc_id AS eval_id FROM u WHERE doc_id % 7 = 0),
        |tr AS (SELECT s, doc_id FROM u WHERE doc_id % 7 <> 0)
        |SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS n_shared_shingles,
        |  CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
        |FROM tr JOIN ev USING (s) GROUP BY doc_id
        |HAVING count(DISTINCT s) >= 2 ORDER BY doc_id""".stripMargin),
    "t21_heavy_hitters" ->
      ("""WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt, 1 AS ok
        |FROM tok GROUP BY token ORDER BY cnt DESC, token LIMIT 10""".stripMargin),
    // exact-string twin of the hashed first-seen window (the hash is a
    // pure join-key compression on the Spark side)
    "t27_novelty" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS shl
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(shl) AS s FROM sh),
        |f AS (SELECT doc_id, s, MIN(doc_id) OVER (PARTITION BY s) AS first FROM ex)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  ROUND(CAST(SUM(CASE WHEN doc_id = first THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS novelty
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "t26_lexical_diversity" ->
      ("""WITH base AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS cnt FROM base GROUP BY token)
        |SELECT doc_id,
        |  ROUND(CAST(COUNT(DISTINCT b.token) AS DOUBLE) / COUNT(*), 4) AS ttr,
        |  ROUND(CAST(SUM(CASE WHEN f.cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS hapax_frac
        |FROM base b JOIN freq f USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "t25_bigram_logprob" ->
      ("""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
        |bg AS (
        |  SELECT doc_id, array_to_string(l[i:i+1], ' ') AS bg, l[i] AS w1
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) s),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(l) AS t FROM toks))
        |SELECT doc_id, ROUND(AVG(-LN((c2.c2 + 1) / CAST(c1.c1 + v.v AS DOUBLE))), 4) AS avg_nll2
        |FROM bg JOIN c2 USING (bg) JOIN c1 USING (w1), v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "t23_group_sample" ->
      ("""SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY source, doc_id""".stripMargin),
    "t24_epoch_mix" -> {
      val bucket = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString("(", " + ", ")")
      s"""WITH w AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN lang = 'en' THEN 800 WHEN lang = 'zh' THEN 2500 ELSE 1000 END AS pm,
         |    $bucket AS b
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang,
         |    (pm // 1000) + CASE WHEN b * 1000 < (pm % 1000) * 65536 THEN 1 ELSE 0 END AS n
         |  FROM w)
         |SELECT doc_id, lang, CAST(i AS BIGINT) AS copy_idx
         |FROM c, LATERAL (SELECT unnest(generate_series(1, CAST(n AS BIGINT))) AS i) s
         |WHERE n >= 1 ORDER BY doc_id, copy_idx""".stripMargin
    },
    "t22_winnow" -> {
      def hx(gram: String) = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(md5($gram), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString("(", " + ", ")")
      s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l FROM documents),
         |grams AS (
         |  SELECT doc_id, i AS p, ${hx("array_to_string(l[i:i+4], ' ')")} AS hx, len(l) - 4 AS ng
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l)-4)) AS i) s
         |  WHERE len(l) >= 5
         |  UNION ALL
         |  SELECT doc_id, 1 AS p, ${hx("array_to_string(l, ' ')")} AS hx, 1 AS ng
         |  FROM toks WHERE len(l) < 5),
         |wmin AS (
         |  SELECT doc_id, p, ng,
         |    min(hx * 1048576 + p) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
         |  FROM grams)
         |SELECT DISTINCT doc_id, CAST(m % 1048576 AS BIGINT) AS fp_pos,
         |  CAST(m // 1048576 AS BIGINT) AS fp_hash
         |FROM wmin WHERE p <= GREATEST(ng - 3, 1) ORDER BY doc_id, fp_pos""".stripMargin
    },
    "t20_classifier" ->
      (s"SELECT doc_id, clf_score, CASE WHEN clf_score > 0 THEN 1 ELSE 0 END AS keep " +
        s"FROM (SELECT doc_id, ${TextFns.classifierScoreSql("text")} AS clf_score FROM documents) " +
        "ORDER BY doc_id"),
    "t01_tokens" ->
      (s"SELECT doc_id, CAST(${TextFns.tokenCountSql("text")} AS BIGINT) AS n_tokens, " +
        "CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subtokens " +
        "FROM documents ORDER BY doc_id"),
    "t02_quality" ->
      (s"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        s"${TextFns.alphaRatioSql("text")} AS alpha_ratio, " +
        s"${TextFns.stopwordRatioSql("text")} AS stop_ratio, " +
        s"${TextFns.qualityScoreSql("text")} AS quality " +
        "FROM documents ORDER BY doc_id"),
    "t03_langid" ->
      (s"SELECT doc_id, ${TextFns.langIdSql("text")} AS lang_pred " +
        "FROM documents ORDER BY doc_id"),
    "t04_fingerprint" ->
      (s"SELECT doc_id, ${TextFns.fingerprintSql("text")} AS fp " +
        "FROM documents ORDER BY doc_id"),
    "d01_dedup_exact" ->
      (s"SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups " +
        s"FROM documents GROUP BY ${TextFns.fingerprintSql("text")} ORDER BY doc_id"),
    // brute-force ground truth: ALL-pairs jaccard over the same word
    // 3-shingles, no blocking. The Spark side only ever sees LSH
    // candidates, so a green hash here is a real recall-vs-truth gate
    // (precision is exact by construction — candidates are verified).
    "d02_dedup_minhash" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),
    "d09_incremental_minhash" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 10 = 3 OR b.doc_id % 10 = 3)
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),
    // replays Dedup.withSimhashChunks digit-for-digit (md5 is the shared
    // hash), then brute-force all-pairs hamming — exact, because the
    // Spark side's 4-chunk pigeonhole blocking is lossless at hamming<=3
    "d03_dedup_simhash" -> simhashOracleSql,
    "t08_vocab" ->
      ("""WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS token
        |  FROM documents)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        |FROM toks GROUP BY token ORDER BY df DESC, token LIMIT 100""".stripMargin),
    "t09_repetition" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN 1 ELSE len(tk) - 2 END AS n_raw,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS sh
        |  FROM toks)
        |SELECT doc_id, ROUND(1.0 - CAST(len(sh) AS DOUBLE) / n_raw, 4) AS rep_ratio
        |FROM sh ORDER BY doc_id""".stripMargin),
    "t12_filter_pass" -> t12OracleSql,
    "t19_corpus_manifest" -> t19OracleSql,
    // replays Packing.packBins: global token cumsum in doc_id order,
    // bins cut every 2048 tokens
    "t11_pack" ->
      ("""WITH n AS (
        |  SELECT doc_id, len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS prev_cum
        |  FROM n)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(prev_cum // 2048 AS BIGINT) AS bin_id,
        |  CAST(prev_cum % 2048 AS BIGINT) AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin),
    "t10_salient" ->
      ("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
        |r AS (SELECT t.doc_id, t.token, t.tf, d.df,
        |  row_number() OVER (PARTITION BY t.doc_id ORDER BY t.tf DESC, d.df ASC, t.token) AS rn
        |  FROM tf t JOIN df d USING (token))
        |SELECT doc_id, CAST(rn AS BIGINT) AS rank, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin),
    // replays TextFns.chunkTokens (window 32, overlap 8 → stride 24)
    "t07_chunks" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |n AS (
        |  SELECT doc_id, tk,
        |    CASE WHEN len(tk) <= 32 THEN 1
        |         ELSE CAST(ceil(CAST(len(tk) - 32 AS DOUBLE) / 24) AS BIGINT) + 1 END AS n_chunks
        |  FROM toks),
        |ex AS (
        |  SELECT doc_id, tk, unnest(range(n_chunks)) AS ci FROM n)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  CAST(len(tk[ci * 24 + 1 : ci * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(tk[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
        |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin),
    // transitive closure over the brute-force dup pairs (recursive CTE),
    // min reachable id per doc = the cluster representative the Spark
    // label propagation must agree with
    "d05_dup_clusters" -> d05OracleSql,
    "d10_quality_reps" -> d10OracleSql,
    "d11_tfidf_pairs" -> Tfidf.cosinePairsOracleSql(3, 64, 0.35),
    "d12_incremental_tfidf" -> Tfidf.cosinePairsOracleSql(3, 64, 0.35,
      extraWhere = "id_a % 10 = 3 OR id_b % 10 = 3"),
    "t32_bpe_merges" -> Bpe.mergesOracleSql(8),
    "t33_bpe_encode" -> Bpe.encodeOracleSql(8),
    "t34_ppl_buckets" ->
      (s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT SUM(cnt) AS n_total FROM freq),
        |sc AS (
        |  SELECT doc_id,
        |    ROUND(AVG(-ln(CAST(cnt AS DOUBLE) / n_total)), 4) AS avg_nll
        |  FROM tok JOIN freq USING (token) CROSS JOIN tot
        |  GROUP BY doc_id),
        |${Quantiles.cumShareBucketsSql("avg_nll",
             Seq(("head", 1, 3), ("middle", 2, 3)), "tail")}
        |SELECT doc_id, sc.avg_nll, bucket
        |FROM sc JOIN bk USING (avg_nll) ORDER BY doc_id""".stripMargin),
    "d14_edit_pairs" -> EditDistance.editPairsOracleSql(16, 3),
    "d16_containment" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        least(len(a.sh), len(b.sh)), 4) AS containment
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      least(len(a.sh), len(b.sh)) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),
    "d15_source_overlap" ->
      ("""WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT source,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS sh
        |  FROM toks),
        |u AS (SELECT DISTINCT source, unnest(sh) AS s FROM sh),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM u GROUP BY source),
        |ov AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM u a JOIN u b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.sz AS n_a, sb.sz AS n_b, n_shared,
        |  ROUND(CAST(n_shared AS DOUBLE) / (sa.sz + sb.sz - n_shared), 4) AS jaccard
        |FROM ov JOIN sz sa ON ov.src_a = sa.source
        |        JOIN sz sb ON ov.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin),
    "t37_oov_rate" ->
      ("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, CAST(count(*) AS BIGINT) AS df
        |    FROM (SELECT DISTINCT doc_id, token FROM tok)
        |    GROUP BY token ORDER BY df DESC, token LIMIT 200))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  ROUND(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS oov_rate
        |FROM tok LEFT JOIN vocab v USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "d13_corpus_diff" ->
      ("""WITH v1 AS (SELECT doc_id, md5(text) AS h, source FROM documents),
        |v2raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 89 = 5 THEN text || ' rev2' ELSE text END AS text,
        |    source
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 101 = 7),
        |v2 AS (SELECT doc_id, md5(text) AS h, source FROM v2raw),
        |j AS (
        |  SELECT COALESCE(v2.source, v1.source) AS source,
        |    CASE WHEN v1.h IS NULL THEN 'added'
        |         WHEN v2.h IS NULL THEN 'removed'
        |         WHEN v1.h <> v2.h THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT source, change, COUNT(*) AS n_docs
        |FROM j GROUP BY source, change ORDER BY source, change""".stripMargin),
    "t35_token_entropy" ->
      ("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
        |agg AS (
        |  SELECT doc_id, SUM(c) AS n, COUNT(*) AS types,
        |    SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slc
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id,
        |  ROUND(ln(CAST(n AS DOUBLE)) - slc / n, 4) AS token_entropy,
        |  ROUND(CASE WHEN types > 1
        |    THEN (ln(CAST(n AS DOUBLE)) - slc / n) / ln(CAST(types AS DOUBLE))
        |    ELSE 0.0 END, 4) AS entropy_norm
        |FROM agg ORDER BY doc_id""".stripMargin),
    "t38_pmi_collocations" ->
      ("""WITH toks AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |bgi AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2),
        |c2 AS (SELECT t[i] AS token_a, t[i+1] AS token_b, count(*) AS c_ab
        |       FROM bgi GROUP BY 1, 2),
        |uni AS (SELECT unnest(t) AS token FROM toks),
        |cu AS (SELECT token, count(*) AS c FROM uni GROUP BY token),
        |nb AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_bi FROM c2),
        |nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM cu)
        |SELECT token_a, token_b, CAST(c_ab AS BIGINT) AS c_ab,
        |  ROUND(ln((CAST(c_ab AS DOUBLE) / n_bi) /
        |    ((CAST(ca.c AS DOUBLE) / n_uni) * (CAST(cb.c AS DOUBLE) / n_uni))), 4) + 0.0 AS pmi
        |FROM c2 JOIN cu ca ON c2.token_a = ca.token
        |  JOIN cu cb ON c2.token_b = cb.token
        |CROSS JOIN nb CROSS JOIN nu
        |WHERE c_ab >= 20
        |ORDER BY token_a, token_b""".stripMargin),
    "t39_domain_kl" ->
      ("""WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |sc AS (SELECT source, token, count(*) AS cs FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, CAST(SUM(cs) AS DOUBLE) AS ns FROM sc GROUP BY source),
        |cc AS (SELECT token, CAST(SUM(cs) AS DOUBLE) AS c FROM sc GROUP BY token),
        |nt AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cc)
        |SELECT source, CAST(ns AS BIGINT) AS n_tokens,
        |  ROUND(SUM((cs / ns) * ln((cs / ns) / (c / n))), 4) + 0.0 AS kl
        |FROM sc JOIN cc USING (token) JOIN st USING (source) CROSS JOIN nt
        |GROUP BY source, ns ORDER BY source""".stripMargin),
    "t40_zipf_slope" ->
      ("""WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |f AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |rk AS (SELECT source, c,
        |  row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS rnk FROM f)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  ROUND(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4) + 0.0 AS zipf_slope
        |FROM rk WHERE rnk <= 32
        |GROUP BY source ORDER BY source""".stripMargin),
    "v31_hybrid_rrf" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |dd AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS len, unnest(tk) AS token FROM toks),
        |f AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf, any_value(len) AS len
        |      FROM dd WHERE token IN ('spark', 'vector') GROUP BY doc_id, token),
        |st AS (SELECT CAST(count(text) AS DOUBLE) AS n_docs,
        |              AVG(len(string_split_regex(trim(lower(text)), '\s+'))) AS avg_len
        |       FROM documents),
        |dfx AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM f GROUP BY token),
        |lex0 AS (SELECT doc_id,
        |    ROUND(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avg_len))), 4) AS score
        |  FROM f JOIN dfx USING (token) CROSS JOIN st
        |  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 100),
        |lex AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS lrank FROM lex0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM c WHERE vec_id = 0),
        |dense0 AS (SELECT vec_id AS doc_id,
        |    ROUND(list_cosine_similarity(qv, v), 4) AS sim
        |  FROM c, q WHERE vec_id <> 0 ORDER BY sim DESC, doc_id LIMIT 100),
        |dense AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY sim DESC, doc_id) AS drank FROM dense0),
        |fused AS (SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id, lrank, drank
        |  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
        |SELECT doc_id, CAST(lrank AS INT) AS lrank, CAST(drank AS INT) AS drank,
        |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + lrank AS DOUBLE), 0.0) +
        |        COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + drank AS DOUBLE), 0.0), 6) AS rrf
        |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    "d17_dup_reach" ->
      (s"""WITH RECURSIVE $dupPairsCtes,
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |seeds AS (SELECT DISTINCT id_a AS doc_id FROM pairs
        |          ORDER BY doc_id LIMIT 5),
        |walk(doc_id, hop) AS (
        |  SELECT doc_id, 0 AS hop FROM seeds
        |  UNION ALL
        |  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.doc_id
        |  WHERE w.hop < 3)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(MIN(hop) AS INT) AS hop
        |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "t41_leakfree_split" ->
      (s"""WITH c AS ($d05OracleSql)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, cluster_id,
        |  (strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) - 1) * 16 +
        |  (strpos('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 2, 1)) - 1) AS b
        |  FROM c)
        |ORDER BY doc_id""".stripMargin),
    "t42_temperature_mix" ->
      ("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |p AS (SELECT lang, n_docs,
        |  CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS p FROM c),
        |s AS (SELECT lang, n_docs, p, sqrt(p) AS sc FROM p),
        |w AS (SELECT lang, n_docs, p, sc / SUM(sc) OVER () AS w FROM s)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  ROUND(p, 4) + 0.0 AS p, ROUND(w, 4) + 0.0 AS w,
        |  ROUND(w / p, 4) + 0.0 AS boost
        |FROM w ORDER BY lang""".stripMargin),
    "v24_filtered_knn" ->
      ("""WITH q AS (SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY query_id, rank""".stripMargin),
    "v22_rand_proj" -> Projection.randProjectOracleSql(64, 16),
    "d06_dup_triangles" -> d06OracleSql,
    // replays Sampling.withSplit / sampleDeterministic digit-for-digit
    "t05_split" -> t05OracleSql,
    "t06_sample" ->
      ("SELECT doc_id FROM (SELECT doc_id, " +
        (1 to 4).map(i =>
          s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
          .mkString("(", " + ", ")") +
        " AS b FROM documents) WHERE b * 1000 < 100 * 65536 ORDER BY doc_id"),
    // same all-pairs truth as d02 — but here the Spark side is EXACT
    // (prefix filtering is lossless), so this green is unconditional,
    // not a recall property of the corpus
    "d04_ngram_jaccard" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS sh
        |  FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),
    "v01_ann_brute" -> v01OracleSql,
    "v23_knn_graph" -> v23OracleSql,
    "v08_ann_recall" -> v08OracleSql,
    "v13_ivf_recall" -> v13OracleSql,
    "v14_pq_topk" -> v14OracleSql,
    "v15_pq_recall" -> v15OracleSql,
    "v16_ann_ivfpq" -> v16OracleSql,
    "v17_pq_rerank" -> v17OracleSql,
    "t13_boilerplate" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS sh
        |  FROM toks),
        |u AS (SELECT unnest(sh) AS shingle FROM sh)
        |SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        |FROM u GROUP BY shingle HAVING COUNT(*) >= 5
        |ORDER BY df DESC, shingle LIMIT 100""".stripMargin),
    "t15_contamination" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+4], ' ') for i in range(1, len(tk) - 3)])
        |    END AS sh
        |  FROM toks),
        |u AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |ev AS (SELECT s, doc_id AS eval_id FROM u WHERE doc_id < 50),
        |tr AS (SELECT s, doc_id FROM u WHERE doc_id >= 50)
        |SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS n_shared_shingles,
        |  CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
        |FROM tr JOIN ev USING (s) GROUP BY doc_id
        |HAVING count(DISTINCT s) >= 1 ORDER BY doc_id""".stripMargin),
    "t18_stratified" ->
      ((("SELECT doc_id, lang FROM (SELECT doc_id, lang, " +
        (1 to 4).map(i =>
          s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
          .mkString("(", " + ", ")")) +
        " AS b FROM documents) WHERE b * 1000 < " +
        "CASE WHEN lang = 'en' THEN 100 * 65536 WHEN lang = 'zh' THEN 300 * 65536 " +
        "ELSE 200 * 65536 END ORDER BY doc_id")),
    "t28_domain_cap" ->
      (s"""WITH q AS (SELECT doc_id, source,
         |  ${TextFns.qualityScoreSql("text")} AS quality FROM documents),
         |r AS (SELECT doc_id, source, quality,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id) AS BIGINT) AS src_rank FROM q)
         |SELECT doc_id, source, quality, src_rank FROM r
         |WHERE src_rank <= 10 ORDER BY source, doc_id""".stripMargin),
    "t29_gopher_rules" ->
      (s"""WITH sig AS (SELECT doc_id,
         |  CAST(${TextFns.tokenCountSql("text")} AS BIGINT) AS n_words,
         |  ${TextFns.meanWordLenSql("text")} AS mean_word_len,
         |  ${TextFns.symbolRatioSql("text")} AS symbol_ratio,
         |  ${TextFns.alphaWordFracSql("text")} AS alpha_word_frac,
         |  ${TextFns.stopwordHitsSql("text")} AS stop_hits FROM documents)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
         |  alpha_word_frac, stop_hits,
         |  CASE WHEN n_words BETWEEN 20 AND 50000
         |    AND mean_word_len BETWEEN 3.0 AND 10.0
         |    AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.6
         |    AND stop_hits >= 2 THEN 1 ELSE 0 END AS pass
         |FROM sig ORDER BY doc_id""".stripMargin),
    "t30_dsir" -> t30OracleSql,
    "v18_pca_power" ->
      graft.operators.Pca.oracleSql("embeddings", "embedding", 64),
    "v19_kmeans_fit" -> v19OracleSql,
    "v20_logreg_fit" -> graft.operators.LogReg.oracleSql(
      "documents", "text", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
      iters = 3, lr = 1.0),
    "v21_sq_topk" ->
      ("""WITH r AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM
        |  (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings)),
        |c AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> lo + round((x - lo) / NULLIF(hi - lo, 0.0) * 255) * (hi - lo) / 255) AS dv
        |  FROM embeddings CROSS JOIN r),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.dv, c.dv) /
        |      NULLIF(sqrt(list_dot_product(q.dv, q.dv)) * sqrt(list_dot_product(c.dv, c.dv)), 0.0) AS sim
        |  FROM (SELECT * FROM c WHERE vec_id < 5) q
        |  JOIN c ON c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        |FROM scored QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin),
    "t31_weighted_sample" -> {
      val digits = (1 to 6).map(i =>
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}")
        .mkString("(", " + ", ")")
      s"""WITH s AS (SELECT doc_id, ${TextFns.qualityScoreSql("text")} AS w,
         |  ($digits + 1) / 16777216.0 AS u FROM documents),
         |k AS (SELECT doc_id, w, pow(u, 1.0 / GREATEST(w, 0.0001)) AS raw FROM s)
         |SELECT doc_id, w, ROUND(raw, 6) AS es_key
         |FROM k ORDER BY raw DESC, doc_id LIMIT 20""".stripMargin
    },
    "t16_unigram_logprob" ->
      ("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT SUM(cnt) AS n_total FROM freq)
        |SELECT doc_id,
        |  ROUND(AVG(-ln(CAST(cnt AS DOUBLE) / n_total)), 4) AS avg_nll
        |FROM tok JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "t17_bm25" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |d AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS len, unnest(tk) AS token FROM toks),
        |f AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf, any_value(len) AS len
        |      FROM d WHERE token IN ('spark', 'vector') GROUP BY doc_id, token),
        |st AS (SELECT CAST(count(text) AS DOUBLE) AS n_docs,
        |              AVG(len(string_split_regex(trim(lower(text)), '\s+'))) AS avg_len
        |       FROM documents),
        |dfx AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM f GROUP BY token)
        |SELECT doc_id,
        |  ROUND(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |    tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avg_len))), 4) AS score,
        |  CAST(count(*) AS BIGINT) AS n_terms_hit
        |FROM f JOIN dfx USING (token) CROSS JOIN st
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    "t14_source_profile" ->
      (s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  ROUND(AVG(n_chars), 4) AS avg_chars,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  ROUND(AVG(${TextFns.qualityScoreSql("text")}), 4) AS avg_quality
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    "v06_quant_error" ->
      ("""WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    NULLIF(list_max(list_transform(v, x -> abs(x))), 0.0) AS mx
        |  FROM c),
        |e AS (
        |  SELECT vec_id, mx, len(v) AS d,
        |    list_transform(v, x ->
        |      (x - floor(x * 127.0 / mx + 0.5) * mx / 127.0) *
        |      (x - floor(x * 127.0 / mx + 0.5) * mx / 127.0)) AS err
        |  FROM m)
        |SELECT vec_id, ROUND(mx, 6) AS max_abs,
        |  ROUND(list_reduce(list_prepend(0.0, err), (acc, x) -> acc + x) / d, 9) AS mse
        |FROM e ORDER BY vec_id""".stripMargin),
    "m01_multimodal_meta" ->
      ("SELECT CAST(doc_id AS BIGINT) AS asset_id, " +
        "['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind, " +
        "CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len, " +
        "CAST((doc_id % 64) * 16 + 64 AS INT) AS width, " +
        "['png','opus','h264'][CAST(doc_id % 3 AS INT) + 1] AS codec " +
        "FROM documents ORDER BY asset_id"),
    // replays Multimodal.resizeAssets' scaling arithmetic on the same
    // synthetic meta derivation as the m01 oracle
    "m05_resize" ->
      ("""WITH a AS (
        |  SELECT CAST(doc_id AS BIGINT) AS asset_id,
        |    CAST((doc_id % 64) * 16 + 64 AS DOUBLE) AS w0,
        |    CAST((doc_id % 48) * 16 + 64 AS DOUBLE) AS h0,
        |    CAST(octet_length(CAST(text AS BLOB)) AS DOUBLE) AS len0
        |  FROM documents),
        |s AS (SELECT asset_id, w0, h0, len0,
        |    LEAST(1.0, 256.0 / GREATEST(w0, h0)) AS sc FROM a)
        |SELECT asset_id,
        |  CAST(GREATEST(FLOOR(w0 * sc), 1.0) AS INT) AS width,
        |  CAST(GREATEST(FLOOR(h0 * sc), 1.0) AS INT) AS height,
        |  CAST(CEIL(len0 * sc * sc) AS BIGINT) AS byte_len
        |FROM s ORDER BY asset_id""".stripMargin),
    // replays the 65 stripe folds, the 64 dHash comparisons, and the
    // all-pairs hamming-<=3 join over corpus + planted copies/corruptions
    // — brute force where Spark blocks by pigeonhole (exact at <= 3)
    "m06_phash_pairs" -> {
      val dims = 65
      def stripe(d: Int) =
        s"(CASE WHEN length(text) > $d THEN list_reduce(" +
          s"[ascii(substr(text, p + 1, 1)) for p in range($d, length(text), $dims)], " +
          "(acc, x) -> (acc * 31 + x) % 1000003) ELSE 0 END)"
      val stripeCols = (0 until dims).map(d => s"${stripe(d)} AS s$d")
        .mkString(",\n    ")
      val chunkCols = (0 until 4).map { j =>
        (0 until 16).map { t =>
          val b = 16 * j + t
          s"(CASE WHEN s$b > s${b + 1} THEN CAST(${1L << t} AS BIGINT) ELSE 0 END)"
        }.mkString(" + ") + s" AS c$j"
      }.mkString(",\n    ")
      val hamming = (0 until 4)
        .map(j => s"bit_count(xor(a.c$j, b.c$j))").mkString(" + ")
      s"""WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + 100000 AS BIGINT), text FROM documents WHERE doc_id < 10
        |  UNION ALL
        |  SELECT CAST(doc_id + 200000 AS BIGINT), text || '!' FROM documents WHERE doc_id < 10),
        |st AS (SELECT id,
        |    $stripeCols
        |  FROM base),
        |ch AS (SELECT id,
        |    $chunkCols
        |  FROM st)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST($hamming AS BIGINT) AS hamming
        |FROM ch a JOIN ch b ON a.id < b.id
        |WHERE $hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin
    },
    // m07-m10 run the REAL codecs (JDK ImageIO / javax.sound) over
    // seeded fixture payloads; DuckDB cannot decode media, but the
    // fixtures are deterministic CONSTANTS (MultimodalCodecSpec pins
    // the same rows), so the oracle is the pinned aggregate as a
    // VALUES table — the hash gate catches any decode/codec drift.
    // Floats/counts CAST so stringified values match the Spark dump.
    "m07_real_image_decode" ->
      """SELECT * FROM (VALUES
        |  ('ascending', CAST(24 AS BIGINT)),
        |  ('descending', CAST(24 AS BIGINT)),
        |  ('flat', CAST(24 AS BIGINT))) AS t(envelope, n)
        |ORDER BY envelope""".stripMargin,
    "m08_real_image_phash" ->
      """SELECT * FROM (VALUES
        |  ('same_content', CAST(48 AS BIGINT), CAST(0 AS BIGINT)))
        |  AS t(pair_type, n, total_hamming)
        |ORDER BY pair_type""".stripMargin,
    "m09_real_audio_decode" ->
      """SELECT * FROM (VALUES
        |  ('ascending', CAST(24 AS BIGINT)),
        |  ('descending', CAST(24 AS BIGINT)),
        |  ('flat', CAST(24 AS BIGINT))) AS t(envelope, n)
        |ORDER BY envelope""".stripMargin,
    "m10_real_audio_phash" ->
      """SELECT * FROM (VALUES
        |  ('same_content', CAST(16 AS BIGINT), CAST(0 AS BIGINT)))
        |  AS t(pair_type, n, total_hamming)
        |ORDER BY pair_type""".stripMargin,
    // replays Multimodal.stubAccumulators per stripe: fold over the bytes
    // at positions ≡ d (mod 16) with (acc*31 + byte) % 1000003 — documents
    // are ASCII so ascii(char) == byte value. Exact-integer checksum.
    "m02_multimodal_decode" -> {
      val stripes = (0 until 16).map { d =>
        s"(CASE WHEN length(text) > $d THEN list_reduce(" +
          s"[ascii(substr(text, p + 1, 1)) for p in range($d, length(text), 16)], " +
          "(acc, x) -> (acc * 31 + x) % 1000003) ELSE 0 END)"
      }.mkString(" + ")
      "SELECT CAST(doc_id AS BIGINT) AS asset_id, " +
        "CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len, " +
        "CAST(16 AS INT) AS feat_dims, " +
        s"CAST($stripes AS BIGINT) AS feat_checksum " +
        "FROM documents ORDER BY asset_id"
    },
    "m03_frame_sample" ->
      ("SELECT CAST(doc_id AS BIGINT) AS asset_id, CAST(t.range AS BIGINT) AS frame_idx, " +
        "CAST(octet_length(CAST(text AS BLOB)) // 4 AS BIGINT) AS frame_len " +
        "FROM documents, range(4) t ORDER BY asset_id, frame_idx"),
    // DuckDB has no BLOB substring/md5; the corpus is ASCII, so the
    // VARCHAR slice hashes the same bytes the Spark binary slice does
    "m04_frame_dedup" ->
      ("""WITH a AS (
        |  SELECT CAST(doc_id AS BIGINT) AS asset_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + 100000 AS BIGINT), text FROM documents WHERE doc_id < 20),
        |f AS (
        |  SELECT asset_id,
        |    md5(substring(text,
        |      CAST(t.range * (length(text) // 4) + 1 AS INT),
        |      CAST(length(text) // 4 AS INT))) AS frame_md5
        |  FROM a, range(4) t)
        |SELECT frame_md5, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(COUNT(DISTINCT asset_id) AS BIGINT) AS n_assets,
        |  MIN(asset_id) AS first_asset
        |FROM f GROUP BY frame_md5 HAVING COUNT(*) > 1
        |ORDER BY frame_md5""".stripMargin),
  )
}
