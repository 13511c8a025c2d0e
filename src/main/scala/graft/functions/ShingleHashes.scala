package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_hashes(text, k)` — distinct xxhash64 values of a document's
  * word k-shingles, as ONE native expression.
  *
  * The composed formulation (the specs' expression twin:
  * `array_distinct(transform(shingles, s => xxhash64(s)))` over
  * `transform(sequence(...), i => concat_ws(" ", slice(tokens, i, k)))`)
  * is correct but materializes, per document: the token array, an index
  * sequence, every shingle STRING (token bytes recopied k times each),
  * the hash array, and the distinct array — five higher-order-function
  * allocations deep, on the hottest path of every dedup operator. This
  * expression tokenizes once and hashes each k-gram from a single
  * reused byte buffer; only the final distinct hash array is allocated.
  *
  * Bit-compatible with the composed version BY CONSTRUCTION: the same
  * lower→trim→regex-split tokenization (the identical `UTF8String`
  * operations Spark's `Lower`/`StringTrim`/`StringSplit` call), the
  * same single-space shingle joining as `concat_ws`, and the hash is
  * [[XxHash64Function]] over the joined bytes with Spark's seed 42 —
  * asserted elementwise in DedupSpec. Distinct keeps first-occurrence
  * order, like `array_distinct`.
  *
  * `doGenCode` emits a single static call, so projections using it stay
  * inside whole-stage codegen (the same pattern as Spark's own
  * regexp/json expressions: generated code dispatching into a compiled
  * helper).
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "shingle size k must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // fail at ANALYSIS time on a non-string child, not with a codegen
  // compile error / ClassCastException mid-job. Any StringType instance
  // (incl. collated strings — the byte-level ops here are
  // collation-agnostic) and NullType (constant-folds to NULL) pass.
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes expects a STRING argument, got ${other.sql}")
    }
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashOps.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleHashOps.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Column-level entry: `shingleHashes(col("text"), 3)`. */
  def apply(c: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(c), k))
  }
}

/** Static helper the generated code calls into (standalone object →
  * static forwarders, callable from janino-compiled Java). */
object ShingleHashOps {

  private val SplitPattern = UTF8String.fromString("\\s+")

  def compute(text: UTF8String, k: Int): ArrayData = {
    // identical tokenization to split(trim(lower(text)), "\s+"):
    // the same UTF8String calls Lower/StringTrim/StringSplit make
    val toks: Array[UTF8String] = text.toLowerCase.trim.split(SplitPattern, -1)
    val n = toks.length
    val nShingles = if (n < k) 1 else n - k + 1
    val width = if (n < k) n else k
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](nShingles)
    // one reusable buffer sized for the largest shingle in this doc
    var maxBytes = width - 1 // separators
    var i = 0
    while (i < n) { maxBytes += toks(i).numBytes; i += 1 }
    val buf = new Array[Byte](math.max(maxBytes, 0))
    var s = 0
    while (s < nShingles) {
      var pos = 0
      var j = 0
      while (j < width) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val t = toks(s + j)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
        pos += t.numBytes
        j += 1
      }
      // hash exactly as xxhash64(shingle_string) does (seed 42)
      val h = XxHash64Function.hash(
        UTF8String.fromBytes(buf, 0, pos), StringType, 42L)
      if (seen.add(h)) out += h
      s += 1
    }
    new GenericArrayData(out.toArray)
  }
}
