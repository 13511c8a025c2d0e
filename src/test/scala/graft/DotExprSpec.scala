package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** The native vec_dot expression must be BIT-identical to the composed
  * zip_with/aggregate twin it replaced — same IEEE summation order,
  * same null semantics (null element or length mismatch poisons the
  * fold; two empty arrays fold to 0.0), same NaN/Inf flow-through. */
class DotExprSpec extends SparkSuite {

  private def schema(elem: DataType) = StructType(Seq(
    StructField("a", ArrayType(elem, containsNull = true)),
    StructField("b", ArrayType(elem, containsNull = true))))

  private def compare(rows: Seq[Row], elem: DataType): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema(elem))
    val out = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      ExprTwins.dotHof(
        transform(col("a"), x => x.cast("double")),
        transform(col("b"), x => x.cast("double"))).as("hof"))
      .collect()
    out.foreach { r =>
      val n = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val h = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      if (h == null) assert(n == null, s"native $n, hof null")
      else {
        assert(n != null, "native null, hof non-null")
        assert(java.lang.Double.doubleToLongBits(n) ==
          java.lang.Double.doubleToLongBits(h),
          s"bit mismatch: native $n vs hof $h")
      }
    }
  }

  test("bit-identical to the HOF twin on doubles, incl. NaN/Inf/null/ragged") {
    val rnd = new scala.util.Random(42)
    val randomRows = (1 to 50).map { _ =>
      val n = rnd.nextInt(8)
      Row(Seq.fill(n)(rnd.nextDouble() * 2 - 1),
        Seq.fill(n)(rnd.nextDouble() * 2 - 1))
    }
    val edgeRows = Seq(
      Row(Seq.empty[Double], Seq.empty[Double]),            // -> 0.0
      Row(Seq(1.0, 2.0), Seq(3.0)),                         // ragged -> null
      Row(Seq(1.0), Seq(3.0, 4.0)),                         // ragged -> null
      Row(Seq(1.0, null, 3.0), Seq(1.0, 1.0, 1.0)),         // null elem -> null
      Row(Seq(1.0, 1.0), Seq(null, 1.0)),                   // null elem -> null
      Row(Seq(Double.NaN, 1.0), Seq(1.0, 1.0)),             // NaN flows
      Row(Seq(Double.PositiveInfinity), Seq(1.0)),          // Inf flows
      Row(Seq(Double.PositiveInfinity), Seq(0.0)),          // Inf*0 = NaN
      Row(Seq(1e308, 1e308), Seq(10.0, 10.0)),              // overflow -> Inf
      Row(null, Seq(1.0)),                                  // null array -> null
      Row(Seq(1.0), null))
    compare(randomRows ++ edgeRows, DoubleType)
  }

  test("bit-identical on float arrays (cast path)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 30).map { _ =>
      val n = 1 + rnd.nextInt(6)
      Row(Seq.fill(n)(rnd.nextFloat()), Seq.fill(n)(rnd.nextFloat()))
    } :+ Row(Seq(1.5f, null), Seq(2.0f, 2.0f))
    compare(rows, FloatType)
  }

  test("summation order is the left fold, not a reordering") {
    // catastrophic-cancellation probe: (1e16 + 1) - 1e16 sums to 0.0
    // left-to-right but 1.0 if reassociated — both formulations must
    // agree on the exact left-fold result
    compare(Seq(Row(Seq(1e16, 1.0, -1e16), Seq(1.0, 1.0, 1.0))), DoubleType)
  }
}
