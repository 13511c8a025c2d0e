package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Dedup, Projection}

/** The composed-expression formulations of the engine's native
  * expressions and aggregates (`graft.functions`): slower, interpreted
  * or many-buffer forms whose semantics are obvious from the Column
  * algebra. The specs compare each native form against its twin bit for
  * bit; no engine path runs them. */
object ExprTwins {

  /** Twin of [[Dedup.hashedShingles]] (native `ShingleHashes`): five
    * higher-order functions deep. */
  def hashedShinglesExpr(textCol: Column, k: Int = 3): Column =
    array_distinct(transform(Dedup.shingles(textCol, k), s => xxhash64(s)))

  /** Twin of [[Dedup.signaturesFromHashes]] (native `MinHashSigAgg`):
    * `numHashes` codegen'd `min(xxhash64(i, h))` aggregates over the
    * exploded (id, h) rows. */
  def signaturesFromHashesExpr(hs: DataFrame, numHashes: Int = 64): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"__m$i"))
    hs.select(col("id"), explode(col("hs")).as("h"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Twin of [[Dedup.withSimhashChunks]] (native `SimHashChunksAgg`),
    * and the shape the DuckDB oracle replays: 64 per-bit set-counts,
    * LANE-PACKED into 16 sum aggregates (bits 4g..4g+3 in four 16-bit
    * lanes of agg __s<g>). Lanes can't borrow: each lane count ≤ 32767
    * (the token slice in `simhashHalves`). */
  def withSimhashChunksExpr(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val halves = Dedup.simhashHalves(docs, idCol, textCol)
    def bitOf(b: Int): Column = {
      val (src, sh) = if (b < 32) (col("lo"), b) else (col("hi"), b - 32)
      shiftrightunsigned(src, sh).bitwiseAND(lit(1L))
    }
    val aggs = (0 until 16).map { g =>
      sum((0 until 4).map(t => bitOf(4 * g + t) * lit(1L << (16 * t))).reduce(_ + _))
        .as(s"__s$g")
    } :+ count(lit(1L)).as("__n")
    // bit b set ⟺ signed sum positive ⟺ 2·count(b) > n_tokens
    def countOf(b: Int): Column =
      shiftrightunsigned(col(s"__s${b / 4}"), 16 * (b % 4)).bitwiseAND(lit(0xFFFFL))
    val chunkCols = (0 until 4).map { j =>
      (0 until 16).map { t =>
        when(countOf(16 * j + t) * 2 > col("__n"), lit(1L << t)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _).as(s"c$j")
    }
    halves.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id") +: chunkCols: _*)
  }

  /** Twin of `Similarity.dot` (native `DotExpr`) on double arrays: a
    * left fold over zip_with, the shape the oracle SQL replays. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Twin of [[Projection.randProject]]'s native `RandProjectExpr`: the
    * interpreted higher-order fold in DECIMAL, the semantic ground truth.
    *
    * The fold runs in DECIMAL(38,6) (exact, order-free); the sum is
    * then narrowed to DECIMAL(20,6) — far above any real vector's
    * magnitude, but below the precision ceiling, so the ×(1/√dimOut)
    * product keeps its full scale-8 result instead of triggering
    * Spark's precision-loss re-round at scale 6 (a double-rounding
    * that would diverge from the oracle's single round on …4950-tail
    * values). One ROUND(·, 4) on the exact decimal, then DOUBLE. */
  def hofProjection(vecCol: Column, dimIn: Int, dimOut: Int,
      tag: String): Column = {
    val dec386 = DecimalType(38, 6)
    val inv = Projection.exactInvRoot(dimOut).get
    val signM: Column = typedLit(
      (1 to dimOut).map(j => (1 to dimIn).map(i => Projection.sign(tag, i, j))))
    // slice to dimIn: without it zip_with null-pads the SIGN side for a
    // longer vector and `otherwise(-x)` would treat the null sign as -1,
    // silently adding tail elements the native expression and the oracle
    // (which index v[1..dimIn]) both ignore
    val xd = transform(slice(vecCol, 1, dimIn),
      x => round(x.cast("double"), 6).cast(dec386))
    val praw = transform(signM, row =>
      aggregate(zip_with(xd, row, (x, s) => when(s === 1, x).otherwise(-x)),
        lit(0).cast(dec386), (acc, t) => acc + t)
        .cast(DecimalType(20, 6)))
    transform(praw, p => round(p * lit(inv), 4).cast("double"))
  }
}
