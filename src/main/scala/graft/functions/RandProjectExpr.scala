package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `rand_project(vec)` — the whole Rademacher projection of one vector
  * as ONE native, codegen-friendly expression.
  *
  * The composed formulation (the specs' expression twin:
  * `transform(signM, row => aggregate(zip_with(...)))`) is correct but
  * runs INTERPRETED — higher-order functions sit outside whole-stage
  * codegen, and the decimal fold allocates a `Decimal` per element per
  * output dimension (dimIn·dimOut boxed ops per row on the scan's
  * hottest path). This expression does the identical arithmetic on
  * scaled longs: `round(x, 6)` is exactly a scale-6 unscaled long, the
  * DECIMAL(38,6) fold is exactly a long sum, and only the final
  * ×(1/√dimOut) + 4dp round per OUTPUT dimension touches BigDecimal —
  * dimIn·dimOut long ops and dimOut small-object ops per row.
  *
  * Bit-compatible with the composed version BY CONSTRUCTION on
  * well-formed rows: the 6dp quantization is the same
  * `BigDecimal.valueOf(double).setScale(6, HALF_UP)` Spark's `Round`
  * performs, the long sum equals the exact decimal sum, and the final
  * `multiply(inv).setScale(4, HALF_UP)` is the same exact-decimal
  * product+round the Column form evaluates (asserted elementwise in
  * ProjectionSpec). Null or missing elements poison their output lanes
  * to null — the oracle's semantics (`v[i]` past the end is NULL).
  *
  * `doGenCode` emits a single static call, so projections using it stay
  * inside whole-stage codegen.
  */
case class RandProjectExpr(child: Expression, signs: Array[Array[Int]],
    invRoot: JBigDecimal) extends UnaryExpression {

  require(signs.nonEmpty && signs.forall(_.length == signs.head.length),
    "signs must be a rectangular dimOut x dimIn matrix")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rand_project expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def prettyName: String = "rand_project"

  override def nullSafeEval(input: Any): Any =
    RandProjectOps.compute(input.asInstanceOf[ArrayData], signs, invRoot,
      elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("signs", signs, "int[][]")
    val invRef = ctx.addReferenceObj("invRoot", invRoot, "java.math.BigDecimal")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RandProjectOps.compute($c, $signsRef, $invRef, $elemIsFloat)")
  }

  // the default TreeNode rendering prints the raw int[][] as a JVM
  // identity hash ([[I@6d33cf), which changes every run and would
  // re-dirty the committed plan snapshot on each regeneration — render
  // the matrix by shape + content hash instead (stable, and still
  // distinguishes different matrices)
  override protected def stringArgs: Iterator[Any] = Iterator(child,
    s"signs[${signs.length}x${signs.head.length}:" +
      java.lang.Integer.toHexString(
        java.util.Arrays.deepHashCode(signs.asInstanceOf[Array[AnyRef]])) + "]",
    invRoot)

  override protected def withNewChildInternal(newChild: Expression): RandProjectExpr =
    copy(child = newChild)

  // content-based equality: the synthesized case-class equals compares
  // the int[][] by IDENTITY, so two expressions built from the same
  // (tag, dims) never compare equal — common-subexpression elimination
  // and canonicalized-plan matching (exchange/cache reuse) would
  // recompute the dimIn·dimOut projection per occurrence
  override def equals(o: Any): Boolean = o match {
    case r: RandProjectExpr => child == r.child &&
      java.util.Arrays.deepEquals(signs.asInstanceOf[Array[AnyRef]],
        r.signs.asInstanceOf[Array[AnyRef]]) &&
      invRoot == r.invRoot
    case _ => false
  }

  override def hashCode(): Int =
    31 * (31 * child.hashCode() +
      java.util.Arrays.deepHashCode(signs.asInstanceOf[Array[AnyRef]])) +
      invRoot.hashCode()
}

object RandProjectExpr {
  def apply(c: Column, signs: Array[Array[Int]], invRoot: JBigDecimal): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(RandProjectExpr(ColumnBridge.expression(c), signs, invRoot))
  }
}

/** Static helper the generated code calls into. */
object RandProjectOps {

  /** Overflow bound for the exact-decimal lane sum: the Column form
    * narrows to DECIMAL(20,6), whose capacity is |v| < 10^14 — a larger
    * sum nulls the lane there, so it nulls here too. */
  private val MaxLaneAbs = new JBigDecimal("100000000000000") // 1e14

  def compute(vec: ArrayData, signs: Array[Array[Int]],
      invRoot: JBigDecimal, elemIsFloat: Boolean): ArrayData = {
    val dimOut = signs.length
    val dimIn = signs.head.length
    val n = vec.numElements()
    // quantize once per input element: round(x, 6) exactly as Spark's
    // Round(double, 6), held as the scale-6 unscaled long. A null,
    // absent, or non-finite element nulls every lane (Round passes
    // NaN/Inf through and the twin's DECIMAL cast turns them to null,
    // poisoning its fold the same way). Elements too large for the long
    // fast path (|x| such that dimIn summands could overflow) divert the
    // row to an exact BigDecimal slow path with the twin's
    // DECIMAL(20,6)-overflow null semantics.
    val xs = new Array[Long](dimIn)
    val longCap = Long.MaxValue / math.max(dimIn, 1)
    var anyNull = n < dimIn
    var slow = false
    var i = 0
    while (i < dimIn && !anyNull) {
      if (vec.isNullAt(i)) anyNull = true
      else {
        val d = if (elemIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) {
          anyNull = true
        } else {
          val dec = JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP)
            .movePointRight(6)
          if (dec.abs.compareTo(JBigDecimal.valueOf(longCap)) > 0) slow = true
          else xs(i) = dec.longValueExact()
        }
      }
      i += 1
    }
    val out = new Array[Any](dimOut)
    if (anyNull) return new GenericArrayData(out)
    if (slow) return computeSlow(vec, signs, invRoot, elemIsFloat)
    var j = 0
    while (j < dimOut) {
      val row = signs(j)
      var acc = 0L
      var k = 0
      while (k < dimIn) {
        acc = if (row(k) == 1) acc + xs(k) else acc - xs(k)
        k += 1
      }
      out(j) = JBigDecimal.valueOf(acc, 6).multiply(invRoot)
        .setScale(4, RoundingMode.HALF_UP).doubleValue()
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Exact-decimal fallback for rows with huge (but finite) elements. */
  private def computeSlow(vec: ArrayData, signs: Array[Array[Int]],
      invRoot: JBigDecimal, elemIsFloat: Boolean): ArrayData = {
    val dimOut = signs.length
    val dimIn = signs.head.length
    val xs = new Array[JBigDecimal](dimIn)
    var i = 0
    while (i < dimIn) {
      val d = if (elemIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      xs(i) = JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP)
      i += 1
    }
    val out = new Array[Any](dimOut)
    var j = 0
    while (j < dimOut) {
      val row = signs(j)
      var acc = JBigDecimal.ZERO
      var k = 0
      while (k < dimIn) {
        acc = if (row(k) == 1) acc.add(xs(k)) else acc.subtract(xs(k))
        k += 1
      }
      out(j) =
        if (acc.abs.compareTo(MaxLaneAbs) >= 0) null // DECIMAL(20,6) overflow
        else acc.multiply(invRoot).setScale(4, RoundingMode.HALF_UP).doubleValue()
      j += 1
    }
    new GenericArrayData(out)
  }
}
