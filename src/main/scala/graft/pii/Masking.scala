package graft.pii

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII governance (SURVEY.md §2.11 G10-G14): classification registry,
  * masked projections, role-parameterized masking policy, retention, and
  * anonymization snapshots — all as compositions of codegen'd builtins
  * (sha2/substring/concat/regexp_replace/when), no custom expressions
  * (SURVEY.md §4, UD3).
  */
object Masking {

  /** G11/G12 auditor mask (A4:988, 1022): 12-hex-char SHA-256 prefix +
    * '...' + last 4 in clear — referenceable but not reversible. */
  def maskPanAuditor(v: Column): Column =
    concat(substring(sha2(v, 256), 1, 12), lit("..."), substring(v, -4, 4))

  /** G11/G12 analyst mask (A4:983, 1023): card-shaped values keep only the
    * last 4 digits; non-card-shaped values pass through unchanged —
    * reference-faithful regexp_replace semantics. */
  def maskPanAnalyst(v: Column): Column =
    regexp_replace(v, "^([0-9]{0,15})([0-9]{4})$", "***************$2")

  /** G12/UD3 masking policy resolved at view-build time (A4:1019-1026):
    * the role is a session parameter of the view factory, so each role's
    * view compiles to a plan with zero branching overhead. */
  def maskPan(v: Column, role: String): Column = role match {
    case "admin"   => v
    case "auditor" => maskPanAuditor(v)
    case "analyst" => maskPanAnalyst(v)
    case _         => lit("MASKED")
  }

  /** G10 PII classification registry (A4:950-970): constant governance
    * table mapping (table, column) → category + sensitivity. */
  val piiClassification: Seq[(String, String, String, String)] = Seq(
    ("customer", "c_name",     "DIRECT_IDENTIFIER", "HIGH"),
    ("customer", "c_acctbal",  "FINANCIAL",         "MEDIUM"),
    ("customer", "c_nationkey","QUASI_IDENTIFIER",  "LOW"),
    ("events",   "user_id",    "PSEUDO_IDENTIFIER", "MEDIUM"),
    ("events",   "props",      "PAYLOAD",           "LOW"),
    ("supplier", "s_name",     "DIRECT_IDENTIFIER", "HIGH"))

  def piiRegistry(s: SparkSession): DataFrame = {
    import s.implicits._
    piiClassification
      .toDF("table_name", "column_name", "category", "sensitivity")
  }

  /** G13 retention (A4:1028-1035): keep rows within the trailing window.
    * `asOf` is explicit for reproducibility; at scale this predicate
    * prunes whole date partitions instead of row-filtering 100 TB. */
  def retentionKeep(df: DataFrame, tsCol: String, asOf: Column,
      days: Int): DataFrame =
    df.filter(col(tsCol) >= asOf - expr(s"INTERVAL $days DAY"))

  /** G13 partition-prune deletion over a date-partitioned table
    * ([[graft.core.Tables.ctas]] with `partitionDateCol`): remove
    * partitions strictly older than the cutoff — a metadata-scale
    * operation (one directory delete per expired day), the 100 TB form
    * of the reference's row-level `DELETE WHERE ts < dateadd(day, -90,
    * now)` (A4:1033-1034). Returns the dropped partition names. */
  def retentionDropPartitions(spark: SparkSession, dir: String,
      asOf: java.time.LocalDate, days: Int): Seq[String] = {
    val cutoff = asOf.minusDays(days)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_date="))
      .filter { s =>
        // rows with a null timestamp land in p_date=__HIVE_DEFAULT_PARTITION__
        // (the ctas date partitioning writes them) — their age is unknowable,
        // so retention KEEPS them rather than crashing the whole run on the
        // unparseable directory name; flag them via nullProfile instead
        scala.util.Try(java.time.LocalDate.parse(
            s.getPath.getName.stripPrefix("p_date="))).toOption
          .exists(_.isBefore(cutoff))
      }
      .map { s => fs.delete(s.getPath, true); s.getPath.getName }
  }

  /** Laplace-mechanism noisy counts (Dwork et al., TCC'06): grouped
    * counts released with Laplace(1/ε) noise — sensitivity 1 for a
    * count query, so ε-DP *in mechanism shape*. The noise here is
    * SEEDED (md5 of tag‖group → uniform → inverse CDF), which makes
    * runs reproducible and the DuckDB oracle able to replay every
    * digit — and which a REAL release must replace with a
    * non-reproducible entropy source (seeded noise is not private
    * against an adversary who knows the seed; this is the mechanism's
    * distributed plumbing, deterministically testable). The uniform is
    * (digits + 0.5)/16⁶ ∈ (0,1), so the inverse CDF never sees 0 or 1.
    * One grouped count + per-row arithmetic — no extra shuffles. */
  def dpNoisyCounts(df: DataFrame, groupCol: String, epsilon: Double,
      seedTag: String): DataFrame = {
    val digits = conv(substring(md5(
      concat(lit(seedTag), lit("|"), col(groupCol).cast("string"))), 1, 6),
      16, 10).cast("double")
    val u = (digits + 0.5) / math.pow(16, 6)
    val b = 1.0 / epsilon
    val noise = when(u < 0.5, lit(b) * log(u * 2.0))
      .otherwise(lit(-b) * log((lit(1.0) - u) * 2.0))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"))
      .select(col(groupCol),
        round(col("__n") + noise, 4).as("noisy_n"))
  }

  /** G14 surrogate key (A4:1060): 12-hex-char SHA-256 of the natural key —
    * stable across runs, join-preserving, irreversible. */
  def surrogateKey(v: Column): Column =
    substring(sha2(v.cast("string"), 256), 1, 12)

  /** G14 generalization bucket (A4:1061). */
  def bucket(v: Column, n: Int): Column = abs(v) % n

  /** G14 anonymization snapshot (A4:1038-1067): hash the key columns to
    * surrogates, bucket the quasi-identifiers, keep everything else. */
  def anonymize(df: DataFrame, keyCols: Seq[String],
      bucketCols: Map[String, Int]): DataFrame = {
    val cols = df.columns.map { c =>
      if (keyCols.contains(c)) surrogateKey(col(c)).as(s"${c}_sk")
      else bucketCols.get(c) match {
        case Some(n) => bucket(col(c), n).as(s"${c}_bucket")
        case None    => col(c)
      }
    }
    df.select(cols.toSeq: _*)
  }
}
