package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: injects every graft native function into
  * the session at build time, so they resolve in pure SQL on any session —
  * including ones graft code never touches (e.g. a Thrift server):
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  *   spark.sql("SELECT graft_simhash64(text) FROM docs")
  * }}}
  *
  * The per-object `register(spark)` helpers remain for programmatic use;
  * this is the declarative path (the standard extension-library pattern —
  * compare Spark's own `withExtensions` / `spark.sql.extensions` contract).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: non-equi interval joins → bucketed equi-joins, gated
    // on spark.graft.rangeJoin.bucketWidth (off by default)
    ext.injectOptimizerRule(_ => plans.RangeJoinRule)

    def inject(name: String, clazz: String, usage: String)
              (builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz, null, name, usage, "", "", "", "", "", "", ""),
        builder))

    inject("graft_simhash64", classOf[functions.SimHash64Expr].getName,
      "graft_simhash64(text) - 64-bit SimHash of whitespace tokens") {
      e => functions.SimHash64Expr(e.head)
    }
    inject("graft_hamming64", classOf[functions.Hamming64Expr].getName,
      "graft_hamming64(a, b) - Hamming distance between two 64-bit hashes") {
      e => functions.Hamming64Expr(e(0), e(1))
    }
    inject("graft_minhash", classOf[functions.MinHashSigExpr].getName,
      "graft_minhash(shingles, k) - k-permutation MinHash signature") {
      e => functions.MinHashSigExpr(e(0), e(1))
    }
    inject("graft_text_minhash", classOf[functions.TextMinHashExpr].getName,
      "graft_text_minhash(text, n, k) - fused tokenize/shingle/minhash") {
      e => functions.TextMinHashExpr(e(0), e(1), e(2))
    }
    inject("graft_winnow", classOf[functions.WinnowExpr].getName,
      "graft_winnow(text, k, w) - winnowing rolling-hash fingerprints") {
      e => functions.WinnowExpr(e(0), e(1), e(2))
    }
    inject("graft_dot", classOf[functions.DotExpr].getName,
      "graft_dot(a, b) - dot product of two float/double arrays") {
      e => functions.DotExpr(e(0), e(1))
    }
    inject("graft_norm", classOf[functions.NormExpr].getName,
      "graft_norm(a) - L2 norm of a float/double array") {
      e => functions.NormExpr(e.head)
    }
    inject("graft_hplanes", classOf[functions.HyperplaneSigsExpr].getName,
      "graft_hplanes(vec, nbits, tables) - hyperplane LSH bucket ids") {
      e => functions.HyperplaneSigsExpr(e(0), e(1), e(2))
    }
  }
}
