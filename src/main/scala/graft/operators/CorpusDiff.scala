package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-to-snapshot corpus diff — the audit step between two
  * versions of an iteratively rebuilt training corpus: which documents
  * were added, removed, changed, or left untouched, attributed to
  * their source. The reference rebuilds its warehouse tables wholesale
  * per assignment run (A4 `COPY INTO` re-loads); at 100 TB a rebuild
  * needs a delta report, not faith.
  *
  * Scale posture: both sides are projected to (id, md5, meta...)
  * BEFORE the full-outer join, so the one shuffle carries fixed-width
  * hash rows — never document bodies. The md5 runs map-side on the
  * scan; the join key is the id, so snapshots already bucketed on it
  * diff with no shuffle at all. */
object CorpusDiff {

  /** Per-id change classification between two corpus versions.
    *
    * @param meta columns attributed to each row in the output, taken
    *             from whichever side has the row (both for unchanged /
    *             changed — v2 wins, by "describe the corpus you have
    *             now" convention).
    * @return one row per id present in either version:
    *         (id, change ∈ added|removed|changed|unchanged, meta...)
    */
  def diff(v1: DataFrame, v2: DataFrame, idCol: String,
      contentCol: String, meta: Seq[String] = Nil): DataFrame = {
    // presence is its own flag: md5(NULL) is NULL, so hash-nullness
    // alone would misread a present-but-null-content row as absent
    def narrow(df: DataFrame, tag: String) =
      df.select(Seq(col(idCol).as("id"), lit(true).as(s"in_$tag"),
        md5(col(contentCol)).as(s"h_$tag")) ++
        meta.map(m => col(m).as(s"${m}_$tag")): _*)
    narrow(v1, "a").join(narrow(v2, "b"), Seq("id"), "full_outer")
      .select(Seq(col("id"),
        when(col("in_a").isNull, lit("added"))
          .when(col("in_b").isNull, lit("removed"))
          // null-safe: null content ≠ any hash, = null content
          .when(!(col("h_a") <=> col("h_b")), lit("changed"))
          .otherwise(lit("unchanged")).as("change")) ++
        meta.map(m => coalesce(col(s"${m}_b"), col(s"${m}_a")).as(m)): _*)
  }

  /** The diff rolled up to the report a rebuild gate reads:
    * (meta..., change, n_docs). */
  def diffReport(v1: DataFrame, v2: DataFrame, idCol: String,
      contentCol: String, meta: Seq[String]): DataFrame =
    diff(v1, v2, idCol, contentCol, meta)
      .groupBy(meta.map(col) :+ col("change"): _*)
      .agg(count(lit(1)).as("n_docs"))
}
