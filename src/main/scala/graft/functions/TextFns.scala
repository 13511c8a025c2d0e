package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, and document fingerprinting.
  *
  * Everything here is a composition of built-in (codegen'd) expressions —
  * no UDFs — so filters/projections built from these stay inside
  * whole-stage codegen and scale linearly with input splits.
  *
  * Each function has a DuckDB-SQL twin (the `*Sql` builders) generated from
  * the same constants, so Spark results and the oracle can never drift.
  */
object TextFns {

  /** Whitespace tokenizer (lowercased). A BPE-ish sub-word split is
    * provided by [[bpeishTokens]]. */
  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Adjacent-bigram array ("w1 w2" strings) of the tokenized text;
    * texts under two tokens yield an empty array. The token array is
    * LET-BOUND through a 1-element transform: interpreted higher-order
    * lambdas re-evaluate subtrees embedded in the lambda body PER
    * ELEMENT, so slicing the tokenize EXPRESSION directly would re-run
    * the regex split of the whole text once per bigram — O(n·|text|)
    * per document (the Dedup.shingles fix, shared by every bigram
    * consumer: t25/t30/t38). */
  def bigrams(c: Column): Column =
    flatten(transform(array(tokens(c)), ts =>
      when(size(ts) >= 2,
        transform(sequence(lit(1), size(ts) - 1),
          i => concat_ws(" ", slice(ts, i, lit(2)))))
        .otherwise(array().cast("array<string>"))))

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** Regex sub-word tokenizer: alphanumeric runs or single punctuation
    * marks — the common pre-BPE pretokenization shape. (extract-based,
    * not split-with-lookaround: RE2-class engines can oracle it.) */
  def bpeishTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  def bpeishTokenCount(c: Column): Column = size(bpeishTokens(c)).cast("long")

  /** Fraction of characters that are ASCII letters. */
  def alphaRatio(c: Column): Column =
    round(length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") /
      nullif(length(c), lit(0)), 4)

  /** English stopword list used by quality scoring (fixed, tiny — ships to
    * executors as a literal IN-list, no broadcast needed). */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "for", "on", "with", "as", "at", "by", "it", "this", "that")

  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    round(size(filter(toks, w => w.isInCollection(enStopwords))).cast("double") /
      nullif(size(toks), lit(0)), 4)
  }

  /** Composite document-quality score in [0,1]: length saturation,
    * letter density, and stopword presence — the three heuristics of the
    * reference-style DQ layer applied to raw text (SURVEY.md §2.11 G2/G3
    * recast for documents). */
  def qualityScore(c: Column): Column =
    round(
      lit(0.3) * least(lit(1.0), tokenCount(c).cast("double") / lit(100.0)) +
        lit(0.4) * alphaRatio(c) +
        lit(0.3) * least(lit(1.0), stopwordRatio(c) * lit(4.0)), 4)

  /** Language marker lists (n-gram heuristic). Order = tie-break priority. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  private def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, w => w.isInCollection(markers)))

  /** Heuristic language ID: argmax of marker-word hits, ties broken by
    * list order, no hits at all → "und". */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val scores = langMarkers.map { case (l, m) => l -> langScore(toks, m) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, sc), els) =>
      when(best > 0 && sc === best, lit(l)).otherwise(els)
    }
  }

  /** Canonical document fingerprint: SHA-256 of whitespace-normalized,
    * lowercased text — the exact-dedup key. */
  def fingerprint(c: Column): Column =
    sha2(regexp_replace(lower(trim(c)), "\\s+", " "), 256)

  /** Context-window chunking: window-`window` token chunks with
    * `overlap` tokens of overlap (stride = window - overlap) — the
    * explode shape embedding/pretraining prep uses. A doc with ≤ window
    * tokens is one chunk; the last chunk may be short. A doc with NULL
    * text has no tokens and emits NO chunks (its id is absent from the
    * output — filter nulls upstream if a placeholder row is wanted).
    * Pure per-row expressions: chunking 100 TB is a narrow map, no
    * shuffle. */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      "need window > 0 and 0 <= overlap < window")
    val step = window - overlap
    df.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .withColumn("__nc",
        when(size(col("__tk")) <= window, lit(1L)).otherwise(
          ceil((size(col("__tk")) - lit(window)).cast("double") / step)
            .cast("long") + 1))
      .select(col(idCol), col("__tk"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_idx"))
      .withColumn("__seg",
        slice(col("__tk"), (col("chunk_idx") * step + 1).cast("int"), lit(window)))
      .select(col(idCol), col("chunk_idx"),
        size(col("__seg")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("__seg")).as("chunk_text"))
  }

  /** Hashed bag-of-words linear classifier score — the fastText-style
    * quality/domain filter of CCNet/DataComp-class pipelines, with a
    * deterministic md5-derived weight table standing in for trained
    * weights (the sandbox has no model artifacts; the hashing-trick
    * feature map, scoring shape, and one-pass cost are the real thing).
    * Each token hashes into one of `dim` buckets (md5 first 4 hex
    * digits), the bucket's weight is a fixed pure function of the
    * bucket id, and the document score is the mean token weight — a
    * single codegen'd projection: no UDF, no join, no shuffle, so the
    * 100 TB cost is exactly one corpus scan. */
  def classifierScore(c: Column, dim: Int = 1024, mod: Int = 197): Column = {
    val toks = tokens(c)
    round(
      aggregate(toks, lit(0.0), (acc, t) => {
        val bucket = pmod(
          conv(substring(md5(t), 1, 4), 16, 10).cast("long"), lit(dim))
        acc + (pmod(bucket, lit(mod)).cast("double") /
          lit((mod - 1).toDouble) - lit(0.5))
      }) / nullif(size(toks).cast("double"), lit(0.0)), 4)
  }

  // ---- Gopher-style rule signals (Rae et al. 2021, Appendix A1.1) ----
  // Each rule is a per-row codegen'd expression (narrow map, no shuffle):
  // filtering 100 TB with these costs exactly one corpus scan.

  /** Mean token length in characters (4 dp). */
  def meanWordLen(c: Column): Column = {
    val toks = tokens(c)
    round(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
      nullif(size(toks), lit(0)), 4)
  }

  /** Symbol-to-word ratio: '#' and '...' occurrences per token — the
    * Gopher markup/ellipsis screen. Substring counts via length deltas
    * (portable to any engine with replace). */
  def symbolRatio(c: Column): Column = {
    val hashes = length(c) - length(regexp_replace(c, "#", ""))
    val ellipses = (length(c) -
      length(regexp_replace(c, "\\.\\.\\.", ""))) / lit(3)
    round((hashes + ellipses).cast("double") /
      nullif(size(tokens(c)), lit(0)), 4)
  }

  /** Fraction of tokens containing at least one a-z letter (4 dp). */
  def alphaWordFrac(c: Column): Column = {
    val toks = tokens(c)
    round(size(filter(toks, w => w.rlike("[a-z]"))).cast("double") /
      nullif(size(toks), lit(0)), 4)
  }

  /** Count of stopword tokens (non-distinct) — the Gopher "contains at
    * least 2 stop words" rule reads this. */
  def stopwordHits(c: Column): Column =
    size(filter(tokens(c), w => w.isInCollection(enStopwords))).cast("long")

  // ---- DuckDB oracle twins (same constants, by construction) ----

  /** THE one spelling of the tokenizer on the oracle side (the twin of
    * [[tokens]]) — every SQL builder goes through it, so a tokenization
    * change can never update some twins and miss others. */
  private def toksSql(col: String): String =
    s"string_split_regex(trim(lower($col)), '\\s+')"

  def tokenCountSql(col: String): String =
    s"len(${toksSql(col)})"

  def alphaRatioSql(col: String): String =
    s"ROUND(CAST(length(regexp_replace($col, '[^A-Za-z]', '', 'g')) AS DOUBLE) / NULLIF(length($col), 0), 4)"

  def stopwordRatioSql(col: String): String = {
    val inList = enStopwords.map(w => s"'$w'").mkString(", ")
    s"ROUND(CAST(len(list_filter(${toksSql(col)}, w -> w IN ($inList))) AS DOUBLE) / NULLIF(len(${toksSql(col)}), 0), 4)"
  }

  def qualityScoreSql(col: String): String =
    s"ROUND(0.3 * LEAST(1.0, CAST(${tokenCountSql(col)} AS DOUBLE) / 100.0) + 0.4 * ${alphaRatioSql(col)} + 0.3 * LEAST(1.0, ${stopwordRatioSql(col)} * 4.0), 4)"

  def langIdSql(col: String): String = {
    val toks = toksSql(col)
    val scoreExprs = langMarkers.map { case (l, m) =>
      val inList = m.map(w => s"'$w'").mkString(", ")
      l -> s"len(list_filter($toks, w -> w IN ($inList)))"
    }
    val best = s"GREATEST(${scoreExprs.map(_._2).mkString(", ")})"
    val cases = scoreExprs.map { case (l, sc) =>
      s"WHEN $best > 0 AND $sc = $best THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  def fingerprintSql(col: String): String =
    s"sha256(regexp_replace(lower(trim($col)), '\\s+', ' ', 'g'))"

  def meanWordLenSql(col: String): String =
    s"ROUND(CAST(list_sum(list_transform(${toksSql(col)}, t -> length(t))) AS DOUBLE) / NULLIF(len(${toksSql(col)}), 0), 4)"

  def symbolRatioSql(col: String): String =
    s"ROUND(CAST((length($col) - length(replace($col, '#', ''))) + (length($col) - length(replace($col, '...', ''))) // 3 AS DOUBLE) / NULLIF(len(${toksSql(col)}), 0), 4)"

  def alphaWordFracSql(col: String): String =
    s"ROUND(CAST(len(list_filter(${toksSql(col)}, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / NULLIF(len(${toksSql(col)}), 0), 4)"

  def stopwordHitsSql(col: String): String = {
    val inList = enStopwords.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(${toksSql(col)}, w -> w IN ($inList))) AS BIGINT)"
  }

  /** Twin of [[classifierScore]]: md5 hex digits → bucket via the same
    * strpos arithmetic as the sampling oracles, identical weight
    * function, sequential list_sum matching the fold order. */
  def classifierScoreSql(col: String, dim: Int = 1024, mod: Int = 197): String = {
    val toks = toksSql(col)
    val v = (1 to 4).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(t), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
      .mkString("(", " + ", ")")
    s"ROUND(list_sum(list_transform($toks, t -> ((($v % $dim) % $mod) / ${mod - 1}.0 - 0.5))) / NULLIF(len($toks), 0), 4)"
  }
}
