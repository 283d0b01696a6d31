package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import org.apache.spark.sql.graftshim.{analysisError, toColumn, toExpression, KernelCall}

import graft.functions.{ByteSumMod, DotProduct, Fingerprint, LegacyExtJsonCol, MinHashSigAggExpr, WinnowHashes, WordShingles}
import graft.queries.DedupQueries

/** SparkSessionExtensions entry point: registers the engine's custom
  * functions as SQL functions so `spark.sql("...")` users get the
  * same surface as the Column API. Each kernel builds the same call
  * as its column factory. Activate with
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * or spark.sql.extensions=graft.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    def register(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, null, name),
        build))
    def kernel(name: String)(build: Seq[Expression] => Column): Unit =
      register(name, classOf[KernelCall])(args => toExpression(build(args)))
    def col(c: Expression): Column = toColumn(c)

    kernel("byte_sum_mod") {
      case Seq(c, Literal(n: Int, _)) if n > 0 => ByteSumMod(col(c), n)
      case Seq(_, Literal(n: Int, _)) => throw analysisError(
        s"byte_sum_mod(col, n): n must be a positive Int literal, got $n")
      case args => throw analysisError(
        s"byte_sum_mod(col, <positive int literal>): got ${args.length} " +
          "argument(s)")
    }

    kernel("graft_fingerprint") {
      case Seq(c) => Fingerprint(col(c))
      case args => throw analysisError(
        s"graft_fingerprint(col) takes exactly 1 argument, got ${args.length}")
    }

    kernel("word_shingles") {
      case Seq(c, Literal(n: Int, _)) if n >= 1 => WordShingles(col(c), n)
      case Seq(_, Literal(n: Int, _)) => throw analysisError(
        s"word_shingles(col, n): n must be a positive Int literal, got $n")
      case args => throw analysisError(
        s"word_shingles(col, <positive int literal>): got ${args.length} " +
          "argument(s)")
    }

    kernel("dot_product") {
      case Seq(a, b) => DotProduct(col(a), col(b))
      case args => throw analysisError(
        s"dot_product(a, b) takes exactly 2 arguments, got ${args.length}")
    }

    kernel("legacy_ext_json") {
      case Seq(c) => LegacyExtJsonCol(col(c))
      case args => throw analysisError(
        s"legacy_ext_json(col) takes exactly 1 argument, got ${args.length}")
    }

    kernel("winnow_hashes") {
      case Seq(c, Literal(k: Int, _), Literal(w: Int, _))
          if k >= 1 && w >= 1 => WinnowHashes(col(c), k, w)
      case Seq(_, Literal(k: Int, _), Literal(w: Int, _)) =>
        throw analysisError(
          s"winnow_hashes(col, k, w): k and w must be positive Int " +
            s"literals, got ($k, $w)")
      case args => throw analysisError(
        s"winnow_hashes(col, <k>, <w>): got ${args.length} argument(s)")
    }

    // Aggregate: minhash_sig(hashCol) with the engine's standard k/P
    // permutation set (the same constants the dedup oracles replay).
    register("minhash_sig", classOf[MinHashSigAggExpr]) {
      case Seq(c) => MinHashSigAggExpr(
        c, DedupQueries.K, DedupQueries.P, DedupQueries.As, DedupQueries.Bs)
      case args => throw analysisError(
        s"minhash_sig(col) takes exactly 1 argument, got ${args.length}")
    }
  }
}
