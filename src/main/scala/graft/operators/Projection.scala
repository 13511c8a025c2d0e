package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection (Achlioptas, JCSS 2003:
  * database-friendly ±1 projections) — the dimensionality-reduction
  * stage in front of an ANN/clustering tier. A dense float matrix is
  * the textbook form; the ±1 (Rademacher) form is what a data engine
  * actually ships, because the "matrix" is then nothing but a
  * DETERMINISTIC HASH: sign(i,j) = parity of md5("tag-i-j"). No
  * driver-held weights, no broadcast of a trained artifact, nothing to
  * version — any executor (and any other engine, which is how the
  * oracle replays it) reconstructs the exact matrix from the tag.
  *
  * Scale posture: the projection is row-local — one narrow `transform`/
  * `aggregate` fold per output component over the vector column, zero
  * shuffles, zero joins, embarrassingly parallel at any corpus size.
  * The sign matrix is baked into the plan as a literal (dimOut × dimIn
  * ints), so the expression tree is O(dimOut), not O(dimOut·dimIn) —
  * the same array-fold shape that keeps [[Pca]] usable at dim 768.
  *
  * Determinism: components are quantized to 6dp and folded as
  * DECIMAL(38,6) (exact, order-free); the 1/√dimOut scale and the final
  * 4dp round are applied identically by the oracle.
  */
object Projection {

  /** +1/-1 from the parity of the first hex nibble of md5("tag-i-j") —
    * the engine-portable derivation (DuckDB: strpos over the hex
    * alphabet; here: parse the nibble). */
  def sign(tag: String, i: Int, j: Int): Int = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$tag-$i-$j".getBytes(StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0xf) % 2 == 0) 1 else -1
  }

  /** Exact decimal reciprocal of √dimOut when one exists (dimOut a
    * perfect square whose root divides a power of ten — 4, 16, 25, 64,
    * 100, 256…). Only then can the 1/√dimOut scale stay in exact
    * decimal arithmetic end-to-end; rounding a binary DOUBLE quotient
    * instead lands on opposite sides of …5 halfway points per engine. */
  def exactInvRoot(dimOut: Int): Option[java.math.BigDecimal] = {
    val r = math.round(math.sqrt(dimOut.toDouble)).toInt
    if (r.toLong * r != dimOut) None
    else scala.util.Try(
      java.math.BigDecimal.ONE.divide(new java.math.BigDecimal(r))).toOption
  }

  /** `(id, component, val)` — the dimOut-dimensional ±1 projection of
    * `vecCol`, one row per output component, `val` = 4dp-rounded
    * `(Σ_i ±x_i) / √dimOut`.
    *
    * Runs as the native codegen'd
    * [[graft.functions.RandProjectExpr]] (scaled-long folds inside
    * whole-stage codegen); ProjectionSpec tests it bit for bit against
    * the interpreted DECIMAL fold it replaced. */
  def randProject(df: DataFrame, idCol: String, vecCol: String,
      dimIn: Int, dimOut: Int, tag: String = "rp"): DataFrame = {
    require(dimIn >= 1 && dimOut >= 1, "dims must be >= 1")
    val inv = exactInvRoot(dimOut).getOrElse(throw new IllegalArgumentException(
      s"dimOut=$dimOut has no exact decimal 1/sqrt; pick 4, 16, 25, 64, 100, 256…"))
    val signs = Array.tabulate(dimOut, dimIn)((j, i) => sign(tag, i + 1, j + 1))
    df.select(col(idCol).as("id"),
        posexplode(graft.functions.RandProjectExpr(col(vecCol), signs, inv)))
      .select(col("id"), (col("pos") + 1).cast("long").as("component"),
        col("col").as("val"))
  }

  /** DuckDB twin of [[randProject]] over
    * `embeddings(vec_id, embedding)` — the sign matrix is re-derived
    * from md5 in SQL, not copied from the Scala side. */
  def randProjectOracleSql(dimIn: Int, dimOut: Int,
      tag: String = "rp"): String =
    s"""WITH signs AS (
       |  SELECT [[CASE WHEN (strpos('0123456789abcdef',
       |              substr(md5('$tag-' || i || '-' || j), 1, 1)) - 1) % 2 = 0
       |            THEN 1 ELSE -1 END
       |           for i in range(1, ${dimIn + 1})]
       |          for j in range(1, ${dimOut + 1})] AS sm),
       |x AS (
       |  SELECT vec_id,
       |    [CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(38,6))
       |     for i in range(1, ${dimIn + 1})] AS xd
       |  FROM embeddings)
       |SELECT vec_id AS id, CAST(j AS BIGINT) AS component,
       |  CAST(ROUND(CAST(list_sum(
       |      [CASE WHEN sm[j][i] = 1 THEN xd[i] ELSE -xd[i] END
       |       for i in range(1, ${dimIn + 1})]) AS DECIMAL(20,6))
       |    * ${exactInvRoot(dimOut).get.toPlainString}, 4) AS DOUBLE) AS val
       |FROM x, signs, (SELECT unnest(range(1, ${dimOut + 1})) AS j)
       |ORDER BY id, component""".stripMargin
}
