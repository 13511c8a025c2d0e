package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ZValue

/** Multi-dimensional data layout: Z-order clustering for scan pruning.
  *
  * A table range-partitioned and sorted on ONE column prunes scans on
  * that column only; queries filtering another dimension read
  * everything. Z-ordering sorts by the Morton interleave of BOTH
  * dimensions' keys instead, so every output file covers a compact
  * rectangle of the (a, b) space — parquet min/max stats then prune
  * files/row-groups for range predicates on EITHER dimension (the
  * Delta/Iceberg `OPTIMIZE ZORDER BY` layout, done with plain Spark
  * primitives: scale → interleave → range-repartition → sort-within).
  *
  * At 100 TB this is a layout-maintenance job (one shuffle + sorted
  * write, same cost class as a small-file compaction); the payoff
  * is every subsequent multi-dimensional range scan reading
  * O(query-box / file-box) of the bytes. ZOrderSpec quantifies it: the
  * summed per-file bounding-box area is ~n_files× smaller than a
  * single-dimension or random layout's.
  */
object Layout {

  /** Order-preserving map of `c` onto [0, 2^16) given its min/max —
    * 32-bit-safe input to the interleave. Degenerate ranges (min = max)
    * map to 0, and so do NULL values (explicitly: least() SKIPS null
    * arguments, so without the branch a null would silently land at
    * 65535 and widen the max-corner files' bounding boxes). */
  private def scaled(c: Column, mn: Double, mx: Double): Column =
    if (mx <= mn) lit(0L)
    else when(c.isNull, lit(0L)).otherwise(least(lit(65535L),
      floor((c.cast("double") - lit(mn)) / lit(mx - mn) * 65536.0)
        .cast("long")))

  /** Write `df` z-ordered on two numeric columns into `dir` as `nFiles`
    * parquet files. The min/max scan for scaling is one cheap
    * stats-only pass (at scale: read from catalog stats instead). */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
      dir: String, nFiles: Int): Unit = {
    val Array(mnA, mxA, mnB, mxB) = df.agg(
        min(col(colA).cast("double")), max(col(colA).cast("double")),
        min(col(colB).cast("double")), max(col(colB).cast("double")))
      .collect()(0).toSeq.map(v => v.asInstanceOf[Double]).toArray
    df.withColumn("__z",
        ZValue(scaled(col(colA), mnA, mxA), scaled(col(colB), mnB, mxB)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }
}
