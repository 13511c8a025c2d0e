package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval counting WITHOUT an equi key — the member of the
  * join family next to [[AsofJoin]] (point to latest-before) and the
  * e03 range join (equi key + residual band); e17 runs it.
  *
  * When neither side is broadcastable and no key co-partitions them, a
  * naive `ts BETWEEN start AND end` condition plans a cartesian. The
  * standard scale trick is TIME BUCKETING: every interval is exploded
  * into the fixed-width buckets it covers, every point keys into its
  * own single bucket, and the join becomes an equi join on the bucket
  * plus a residual containment filter. A point lives in exactly one
  * bucket and a covering interval is exploded into exactly that bucket
  * once — so matches are exact with NO post-dedup.
  *
  * Costs and their knobs: the interval side materializes
  * span/bucketWidth copies per interval (choose the bucket near the
  * TYPICAL span; a 90-minute window at hour buckets is 2-3 copies),
  * and the shuffle keys by time bucket — hot buckets mean hot load
  * windows, the salting in [[Skew]] composes if one bucket dominates.
  * Both sides shuffle once, keyed by bucket: no cartesian at any
  * scale. */
object IntervalJoin {

  /** Buckets covered by `[startCol, endCol)`. A degenerate interval
    * (endCol <= startCol) covers NOTHING under the half-open contract —
    * without the guard, `sequence` would see end < start and throw
    * "Illegal sequence boundaries" at runtime; with it, the empty array
    * explodes to zero rows (zero matches), which is what "covers no
    * time" means. */
  /** Bucket units valid BOTH as a `date_trunc` unit and as an INTERVAL
    * literal unit: `date_trunc` additionally accepts quarter/decade/
    * century/millennium, but `INTERVAL 1 quarter` fails to parse — a
    * caller handed one of those would get a runtime ParseException deep
    * inside the explode, so the set is validated up front. */
  private val BucketUnits =
    Set("microsecond", "millisecond", "second", "minute", "hour",
      "day", "week", "month", "year")

  private def coveredBuckets(startCol: String, endCol: String,
      bucket: String): Column =
    when(col(endCol) > col(startCol),
      sequence(
        date_trunc(bucket, col(startCol)),
        // end is EXCLUSIVE: an interval ending exactly on a bucket
        // boundary must not explode into that empty last bucket
        date_trunc(bucket, col(endCol) - expr("INTERVAL 1 MICROSECOND")),
        expr(s"INTERVAL 1 $bucket")))
      .otherwise(array().cast("array<timestamp>"))

  /** Per-interval aggregation over contained points, KEEPING empty
    * intervals (count 0) — the report shape a window-load/outage-impact
    * question wants. `countCol` runs over the point side's columns;
    * `bucket` is any [[BucketUnits]] unit (hour, day, ...). */
  def countPerInterval(points: DataFrame, pTsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      countCol: Column, bucket: String = "hour"): DataFrame = {
    require(BucketUnits(bucket.toLowerCase),
      s"bucket '$bucket' is not a supported unit " +
        s"(${BucketUnits.toSeq.sorted.mkString(", ")})")
    // each interval ROW keeps its own identity through the explode and
    // the final group-by: two identical (start, end) rows must report
    // as two rows (a groupBy on the bounds alone would merge them AND
    // double-count every contained point into the single merged row)
    val withId = intervals.withColumn("__iid", monotonically_increasing_id())
    // explode_outer: a degenerate interval's empty bucket array keeps
    // its row (null bucket → joins nothing → count 0) rather than
    // silently vanishing from the report
    val exploded = withId.withColumn("__bucket",
      explode_outer(coveredBuckets(startCol, endCol, bucket)))
    val p = points.withColumn("__bucket", date_trunc(bucket, col(pTsCol)))
    // LEFT from the exploded intervals: an interval whose buckets hold
    // no points still reports (count of a null point column is 0, and
    // per-bucket multiplicity can't inflate a count of nulls)
    exploded.join(p,
        p("__bucket") === exploded("__bucket") &&
          col(pTsCol) >= col(startCol) && col(pTsCol) < col(endCol),
        "left")
      .groupBy(col("__iid"), col(startCol), col(endCol))
      .agg(count(countCol).as("n_points"))
      .drop("__iid")
  }
}
