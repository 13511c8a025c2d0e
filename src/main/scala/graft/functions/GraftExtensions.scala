package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration for the engine's native functions: the
  * cluster config `spark.sql.extensions=graft.functions.GraftExtensions`
  * injects them at session build (the standard extension mechanism, and
  * the one registration seam).
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
    def inject(name: String, cls: Class[_], usage: String)(
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getCanonicalName, null, name, usage, ""),
        builder))

    inject("minhash_sig", classOf[MinHashSigAgg],
      "minhash_sig(hash_col, k) - aggregate: k-lane MinHash signature (array<bigint>) over a bigint hash column") {
      case Seq(child, Literal(k: Int, _)) =>
        MinHashSigAgg(child, k).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"minhash_sig expects (hash_col, int literal k), got ${args.size} args")
    }

    inject("shingle_hashes", classOf[ShingleHashes],
      "shingle_hashes(text, k) - distinct xxhash64 values of the text's word k-shingles (array<bigint>)") {
      case Seq(child, Literal(k: Int, _)) => ShingleHashes(child, k)
      case args => throw new IllegalArgumentException(
        s"shingle_hashes expects (text, int literal k), got ${args.size} args")
    }

    inject("freq_sketch", classOf[FreqSketchAgg],
      "freq_sketch(item_col, capacity) - aggregate: Misra-Gries heavy-hitter summary (map<string,bigint>) with additive error n/(capacity+1)") {
      case Seq(child, Literal(cap: Int, _)) =>
        FreqSketchAgg(child, cap).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"freq_sketch expects (item_col, int literal capacity), got ${args.size} args")
    }

    inject("rand_project", classOf[RandProjectExpr],
      "rand_project(vec, dim_in, dim_out[, tag]) - 4dp-rounded Rademacher JL projection (array<double>); sign matrix = md5('tag-i-j') parity") {
      case Seq(child, Literal(dimIn: Int, _), Literal(dimOut: Int, _)) =>
        randProject(child, dimIn, dimOut, "rp")
      case Seq(child, Literal(dimIn: Int, _), Literal(dimOut: Int, _),
          Literal(tag: org.apache.spark.unsafe.types.UTF8String, _)) =>
        randProject(child, dimIn, dimOut, tag.toString)
      case args => throw new IllegalArgumentException(
        "rand_project expects (vec, int literal dim_in, int literal dim_out" +
          s"[, string literal tag]), got ${args.size} args")
    }
  }

  private def randProject(child: Expression, dimIn: Int, dimOut: Int,
      tag: String): Expression = {
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
}
