package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL-surface registration for the engine's native functions, two ways:
  *
  *  - cluster config: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    injects them at session build (the standard extension mechanism);
  *  - [[GraftFunctions.register]]: the runtime twin for sessions that
  *    already exist (notebooks, the driver harness).
  *
  * Surface: `minhash_sig(hash_col, k)` — the single-buffer MinHash
  * signature aggregate ([[MinHashSigAgg]]); `shingle_hashes(text, k)` —
  * the native k-gram shingle hasher ([[ShingleHashes]]);
  * `rand_project(vec, dim_in, dim_out[, tag])` — the codegen'd
  * Rademacher JL projection ([[RandProjectExpr]]);
  * `freq_sketch(col, capacity)` — the Misra-Gries heavy-hitter
  * aggregate ([[FreqSketchAgg]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigAgg].getCanonicalName, null,
        "minhash_sig", GraftFunctions.minhashSigUsage, ""),
      GraftFunctions.minhashSigBuilder))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getCanonicalName, null,
        "shingle_hashes", GraftFunctions.shingleHashesUsage, ""),
      GraftFunctions.shingleHashesBuilder))
    ext.injectFunction((
      FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[FreqSketchAgg].getCanonicalName, null,
        "freq_sketch", GraftFunctions.freqSketchUsage, ""),
      GraftFunctions.freqSketchBuilder))
    ext.injectFunction((
      FunctionIdentifier("rand_project"),
      new ExpressionInfo(classOf[RandProjectExpr].getCanonicalName, null,
        "rand_project", GraftFunctions.randProjectUsage, ""),
      GraftFunctions.randProjectBuilder))
  }
}

object GraftFunctions {
  private[functions] val minhashSigUsage =
    "minhash_sig(hash_col, k) - aggregate: k-lane MinHash signature (array<bigint>) over a bigint hash column"

  private[functions] val minhashSigBuilder: Seq[Expression] => Expression = {
    case Seq(child, Literal(k: Int, _)) =>
      MinHashSigAgg(child, k).toAggregateExpression()
    case args => throw new IllegalArgumentException(
      s"minhash_sig expects (hash_col, int literal k), got ${args.size} args")
  }

  private[functions] val shingleHashesUsage =
    "shingle_hashes(text, k) - distinct xxhash64 values of the text's word k-shingles (array<bigint>)"

  private[functions] val shingleHashesBuilder: Seq[Expression] => Expression = {
    case Seq(child, Literal(k: Int, _)) => ShingleHashes(child, k)
    case args => throw new IllegalArgumentException(
      s"shingle_hashes expects (text, int literal k), got ${args.size} args")
  }

  private[functions] val freqSketchUsage =
    "freq_sketch(item_col, capacity) - aggregate: Misra-Gries heavy-hitter summary (map<string,bigint>) with additive error n/(capacity+1)"

  private[functions] val freqSketchBuilder: Seq[Expression] => Expression = {
    case Seq(child, Literal(cap: Int, _)) =>
      FreqSketchAgg(child, cap).toAggregateExpression()
    case args => throw new IllegalArgumentException(
      s"freq_sketch expects (item_col, int literal capacity), got ${args.size} args")
  }

  private[functions] val randProjectUsage =
    "rand_project(vec, dim_in, dim_out[, tag]) - 4dp-rounded Rademacher JL projection (array<double>); sign matrix = md5('tag-i-j') parity"

  private[functions] val randProjectBuilder: Seq[Expression] => Expression = {
    def build(child: Expression, dimIn: Int, dimOut: Int, tag: String) = {
      // same gate as the API path — a dim_in of 0 would otherwise build
      // empty sign rows and fold every lane to a meaningless 0.0
      if (dimIn < 1 || dimOut < 1) throw new IllegalArgumentException(
        s"rand_project: dims must be >= 1, got dim_in=$dimIn dim_out=$dimOut")
      val inv = graft.operators.Projection.exactInvRoot(dimOut)
        .getOrElse(throw new IllegalArgumentException(
          s"rand_project: dim_out=$dimOut has no exact decimal 1/sqrt " +
            "(use 4, 16, 25, 64, 100, 256, ...)"))
      RandProjectExpr(child, Array.tabulate(dimOut, dimIn)((j, i) =>
        graft.operators.Projection.sign(tag, i + 1, j + 1)), inv)
    }
    {
      case Seq(child, Literal(dimIn: Int, _), Literal(dimOut: Int, _)) =>
        build(child, dimIn, dimOut, "rp")
      case Seq(child, Literal(dimIn: Int, _), Literal(dimOut: Int, _),
          Literal(tag: org.apache.spark.unsafe.types.UTF8String, _)) =>
        build(child, dimIn, dimOut, tag.toString)
      case args => throw new IllegalArgumentException(
        "rand_project expects (vec, int literal dim_in, int literal dim_out" +
          s"[, string literal tag]), got ${args.size} args")
    }
  }

  /** Register on a live session: `spark.sql("... minhash_sig(h, 64) ...")`. */
  def register(spark: SparkSession): Unit = {
    ColumnBridge.registerFunction(spark, "minhash_sig", minhashSigUsage,
      minhashSigBuilder)
    ColumnBridge.registerFunction(spark, "shingle_hashes", shingleHashesUsage,
      shingleHashesBuilder)
    ColumnBridge.registerFunction(spark, "freq_sketch", freqSketchUsage,
      freqSketchBuilder)
    ColumnBridge.registerFunction(spark, "rand_project", randProjectUsage,
      randProjectBuilder)
  }
}
