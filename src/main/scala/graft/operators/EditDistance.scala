package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact edit-distance (Levenshtein) near-dup pairs over a normalized
  * document prefix — the character-level member of the dedup family
  * (MinHash/SimHash/Jaccard/tf-idf catch token-level rewrites; edit
  * distance catches typo-class character noise: OCR corpora, scraped
  * boilerplate with injected ids, near-identical headlines).
  *
  * Candidate generation is PassJoin-style segment blocking (Li, Deng,
  * Feng, "PASS-JOIN: A Partition-based Method for Similarity Joins",
  * PVLDB 5(3), 2011): partition every string into `maxDist + 1`
  * contiguous segments; by pigeonhole, any pair within edit distance
  * `k = maxDist` shares at least one UNEDITED segment, which therefore
  * occurs verbatim in the other string at a bounded shift. Indexing the
  * k+1 segments and probing with the shift-window substrings is a
  * LOSSLESS blocking — the result equals the all-pairs join — while the
  * only self-join runs on short hashed segment keys, never on documents.
  *
  * Position windows: for an unedited segment of `s` (|s| = ls) at
  * 1-based start `pi` matched in `r` (|r| = lr, delta = lr - ls) at
  * start `q`, the edits before the segment bound |q - pi| <= k and the
  * edits after it bound |delta - (q - pi)| <= k, so
  * q ∈ [pi - k, pi + k] ∩ [pi + delta - k, pi + delta + k] — a provably
  * complete window of width 2k + 1 - |delta|. (The paper's multi-match-
  * aware i-based tightening cuts candidates a further ~2-3×; we keep the
  * window whose completeness is a two-line proof — recall holes in
  * candidate generators are the one bug class this family cannot
  * tolerate, cf. the round-5 SimHash firstMatch hole.)
  *
  * Scale shape, stage by stage:
  *  - identical prefixes collapse to one representative BEFORE blocking
  *    (min id per distinct prefix, one map-side-combinable groupBy) —
  *    the boilerplate-clique guard: a million copies of one template
  *    enter the join as a single row;
  *  - index = k+1 keys/string; the probe runs ONE direction (each
  *    string probes only partner lengths ls ≤ its own — lossless, see
  *    the in-code note), ≤ (k+1)² windows/string, both
  *    8-byte xxhash64 keys — the candidate shuffle is fixed-width and
  *    document-free;
  *  - hot segment keys (df > `hotDf`) take the salted-join path (index
  *    side salted, probe side replicated `salts`×, the
  *    [[Dedup.ngramJaccardPairs]] algebra) so one stop-word-like segment
  *    cannot serialise a reducer; exactness is preserved because
  *    candidates are DISTINCT-deduped before verification;
  *  - verification joins prefixes (≤ `prefixLen` chars, not documents)
  *    back onto the candidate pairs and runs the banded
  *    `levenshtein(a, b, threshold)` — O(k·L) per pair, not O(L²).
  *
  * Output: one row per unordered representative pair within `maxDist`:
  * (id_a, id_b, dist), id_a < id_b, dist ∈ [1, maxDist] (identical
  * prefixes collapsed away, so 0 never appears).
  */
object EditDistance {

  /** Raw-input size (optimizer estimate) at or above which
    * [[editPairs]] pins its candidate and verify stages to the session
    * shuffle width instead of letting AQE coalesce them. */
  private val PinMinBytes = 64L << 20

  /** Normalized comparison key: first `prefixLen` chars of the
    * whitespace-trimmed, lower-cased text. */
  def prefixKey(textCol: Column, prefixLen: Int): Column =
    substring(trim(lower(textCol)), 1, prefixLen)

  def editPairs(docs: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 16, maxDist: Int = 3,
      hotDf: Int = 4096, salts: Int = 16): DataFrame = {
    require(maxDist >= 1, s"maxDist ($maxDist) must be >= 1")
    require(prefixLen > maxDist,
      s"prefixLen ($prefixLen) must exceed maxDist ($maxDist)")
    val k = maxDist
    val m = k + 1 // segment count; also the min length for the long path

    // one representative (min id) per distinct normalized prefix; null
    // text yields a null prefix whose rep can never verify (levenshtein
    // with null is null) — dropped here so it doesn't block a segment
    // outer spread: the grouped rep table is (id, ≤prefixLen chars) —
    // byte-light, so AQE coalesces its exchange to 1-2 tasks — but it
    // feeds the segment-index explode and the multi-probe expansion
    // (~(2k+1)·m·window substr+hash ops per rep, the operator's densest
    // compute), which then run serialized at the cache's coalesced
    // width (measured: 3 × ~0.7 s single-task stages of d14's 3.2 s).
    // The pin costs one tiny rep-sized exchange and buys the expansion
    // the full configured width.
    val reps = Caches.spreadByKey(
      Caches.spreadByKey(docs, col(idCol))
        .select(prefixKey(col(textCol), prefixLen).as("pre"),
          col(idCol).cast("long").as("__id"))
        .filter(col("pre").isNotNull)
        .groupBy("pre").agg(min(col("__id")).as("id"))
        .select(col("id"), col("pre"), length(col("pre")).cast("int").as("lp")),
      col("id"))

    // pinned exchange width for the byte-light/compute-dense stages
    // below (candidate pairing, dedup, verify) — the session's
    // configured shuffle width, immune to AQE's size-based folding
    val w = scala.util.Try(docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "").toInt)
      .getOrElse(docs.sparkSession.sparkContext.defaultParallelism)
    // SIZE-GATED pinning: the pins exist because AQE's byte-based
    // coalescing folds the candidate join and the verify chain to one
    // task at corpus scale (measured: an 8.6 s single-task stage
    // carrying 63% of d14 at the ~sf1 leg — candidates are ~16 B/row,
    // so byte sizing is the wrong proxy for their compute). At SMALL
    // scale the same folding is exactly right (the whole candidate set
    // is one task's work) and the pins only buy w near-empty tasks per
    // stage of scheduling. Gate on the optimizer's size estimate of the
    // input — a plan-stats read, zero jobs: pin at/above PinMinBytes
    // raw input (the ~sf1+ legs where folding measurably serialized),
    // skip below it. Stats-less sources report the huge
    // defaultSizeInBytes sentinel and therefore PIN — the safe
    // direction at unknown scale.
    val pinWidth = docs.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(PinMinBytes)
    def pinned(df: DataFrame, keys: Seq[Column]): DataFrame =
      if (pinWidth) df.repartition(w, keys: _*) else df

    // ---- segment geometry (shared by index and probe sides) ----
    // canonical even partition of a length-`ls` string into m
    // segments: the first m - (ls % m) get floor(ls/m) chars, the
    // rest one more. All in INT arithmetic so index and probe hash
    // identical key types.
    def segLen(ls: Column, i: Column): Column = {
      val rem = pmod(ls, lit(m))
      val base = ((ls - rem) / m).cast("int")
      (base + when(i >= lit(m) - rem, 1).otherwise(0)).cast("int")
    }
    def segStart(ls: Column, i: Column): Column = {
      val rem = pmod(ls, lit(m))
      val base = ((ls - rem) / m).cast("int")
      (i * base + greatest(lit(0), i - (lit(m) - rem)) + lit(1)).cast("int")
    }
    def segKey(ls: Column, i: Column, sub: Column): Column =
      xxhash64(ls.cast("int"), i.cast("int"), sub)

    val iSeq = sequence(lit(0), lit(k))

    // ---- long path: strings with lp >= m (every segment nonempty) --
    val longs = reps.filter(col("lp") >= m)

    val idx = longs.select(col("id"),
        explode(transform(iSeq, i =>
          segKey(col("lp"), i,
            col("pre").substr(segStart(col("lp"), i), segLen(col("lp"), i)))))
          .as("kk"))

    // hot-key split table: keys whose INDEX population exceeds hotDf
    // join salted (exact — candidates are deduped below); the df table
    // is key-hash-sized, AQE broadcasts it iff it fits
    val dfTab = idx.groupBy("kk").agg(count(lit(1)).as("df"))

    Caches.scoped(reps, dfTab) {
      val emptyLongs = typedLit(Seq.empty[Long])
      // One-direction probing (the paper's framing): for a pair within
      // distance k the PIGEONHOLE argument fixes a direction — some
      // unedited segment of the SHORTER string occurs verbatim in the
      // longer. The index carries every string's segments, so probing
      // only partner lengths ls <= lp (the probe acting as the longer
      // member) is still lossless, and halves the window expansion and
      // the pre-dedup candidate volume vs probing both directions.
      // Equal-length pairs are found from both sides and collapse in
      // the candidate dedup below.
      val prb = longs.select(col("id"),
          explode(array_distinct(flatten(transform(
            sequence(greatest(lit(m), col("lp") - k), col("lp")), ls =>
              flatten(transform(iSeq, i => {
                val li = segLen(ls, i)
                val pi = segStart(ls, i)
                val delta = col("lp") - ls
                val lo = greatest(lit(1), pi - k, pi + delta - k)
                val hi = least(col("lp") - li + 1, pi + k, pi + delta + k)
                when(hi >= lo,
                  transform(sequence(lo, hi), q =>
                    segKey(ls, i, col("pre").substr(q, li))))
                  .otherwise(emptyLongs)
              })))))).as("kk"))

      val idxDf = idx.join(dfTab, "kk")
      val prbDf = prb.join(dfTab, "kk") // probe keys absent from idx die here
      // both pairing inputs repartition PINNED on the join keys: the
      // exploded key postings are ~16 B/row, so AQE folds the pairing
      // join's exchanges to one task on byte count alone — but the join
      // is the operator's candidate-quadratic step (measured: a 4.8 s
      // single-task sort-merge at the ~sf1 leg). Same distribution the
      // join demands, so no extra exchange — only the width survives.
      def pairUp(a: DataFrame, b: DataFrame, extraKey: Seq[String]) = {
        def pin(df: DataFrame) =
          pinned(df, col("kk") +: extraKey.map(col))
        pin(a).as("a").join(pin(b).as("b"),
            (Seq(col("a.kk") === col("b.kk")) ++
              extraKey.map(c => col(s"a.$c") === col(s"b.$c"))).reduce(_ && _) &&
              col("a.id") =!= col("b.id"))
          .select(least(col("a.id"), col("b.id")).as("id_a"),
            greatest(col("a.id"), col("b.id")).as("id_b"))
      }
      val cold = pairUp(idxDf.filter(col("df") <= lit(hotDf.toLong)),
        prbDf.filter(col("df") <= lit(hotDf.toLong)), Nil)
      val hotI = idxDf.filter(col("df") > lit(hotDf.toLong))
        .withColumn("__salt", pmod(xxhash64(col("id"), col("kk")), lit(salts.toLong)))
      val hotP = prbDf.filter(col("df") > lit(hotDf.toLong))
        .withColumn("__salt", explode(sequence(lit(0L), lit(salts - 1L))))
      val longCands = cold.unionByName(pairUp(hotI, hotP, Seq("__salt")))

      // ---- short path: strings with lp < m have empty segments; any
      // partner is within k chars of length, hence itself short
      // (lp < m + k) — an equi length-window join over the tiny short
      // class, no segment keys involved
      val shortL = reps.filter(col("lp") < m)
      val shortAll = reps.filter(col("lp") < lit(m + k))
        .select(col("id").as("__rid"), col("lp").as("__rlp"))
      val shortCands = shortL
        .select(col("id"), explode(sequence(col("lp") - k, col("lp") + k)).as("__rlp"))
        .join(shortAll, "__rlp")
        .filter(col("id") =!= col("__rid"))
        .select(least(col("id"), col("__rid")).as("id_a"),
          greatest(col("id"), col("__rid")).as("id_b"))

      // ---- verify: banded levenshtein on the candidate prefixes ----
      // PINNED width through the whole verify chain: candidate rows
      // are 16 bytes, so AQE's size-based coalescing folds the
      // distinct and both prefix-attach joins to ONE task — and the
      // banded-levenshtein verify, the operator's densest per-row
      // compute, runs serialized behind them (measured: an 8.6 s
      // single-task stage carrying 63% of d14 at the ~sf1 leg). The
      // repartition keys pre-satisfy each step's distribution
      // (dedup on (id_a, id_b); joins on id_a then id_b), so the pins
      // add no exchange beyond the ones the plan needed anyway — they
      // only forbid folding their width away. Hot id_a/id_b values are
      // bounded upstream by the hot-key salting + df cap, so the
      // pinned hash layout cannot recreate the skew AQE would split.
      val cands = pinned(longCands.unionByName(shortCands),
        Seq(col("id_a"), col("id_b"))).dropDuplicates()
      val withPa = pinned(cands, Seq(col("id_a")))
        .join(reps.select(col("id").as("id_a"), col("pre").as("__pa")), "id_a")
      pinned(withPa, Seq(col("id_b")))
        .join(reps.select(col("id").as("id_b"), col("pre").as("__pb")), "id_b")
        .withColumn("dist",
          levenshtein(col("__pa"), col("__pb"), k).cast("long"))
        .filter(col("dist") >= 0L)
        .select(col("id_a"), col("id_b"), col("dist"))
    }
  }

  /** DuckDB twin: brute-force all-pairs levenshtein over the collapsed
    * prefix representatives — the ground truth the blocked join must
    * equal exactly. */
  def editPairsOracleSql(prefixLen: Int, maxDist: Int): String =
    s"""WITH p AS (
       |  SELECT min(doc_id) AS id, pre FROM (
       |    SELECT doc_id, substr(trim(lower(text)), 1, $prefixLen) AS pre
       |    FROM documents) WHERE pre IS NOT NULL GROUP BY pre)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
       |FROM p a JOIN p b
       |  ON a.id < b.id AND abs(len(a.pre) - len(b.pre)) <= $maxDist
       |WHERE levenshtein(a.pre, b.pre) <= $maxDist
       |ORDER BY id_a, id_b""".stripMargin
}
