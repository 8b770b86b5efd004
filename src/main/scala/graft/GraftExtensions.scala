package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{Builders, CharNgrams, CosineSim, DotProduct, HammingSign, L2Sq, TermBag}

/** Session-extensions entry point — the idiomatic way a cluster enables the
  * library's native expressions for every session (including pure-SQL
  * users) without code changes:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Injects the codegen'd vector expressions at session build time.
  * Inside the library's own query builders the per-session
  * `DotProduct.register(spark)` calls remain (the driver owns SparkSession
  * construction and sets no extensions) — both paths register the same
  * (identifier, builder) pairs, and re-registration is idempotent.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_native"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_native"),
      Builders.arity2("dot_native")(DotProduct(_, _))))
    ext.injectFunction((
      FunctionIdentifier("cosine_native"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_native"),
      Builders.arity2("cosine_native")(CosineSim(_, _))))
    ext.injectFunction((
      FunctionIdentifier("l2sq_native"),
      new ExpressionInfo(classOf[L2Sq].getName, "l2sq_native"),
      Builders.arity2("l2sq_native")(L2Sq(_, _))))
    ext.injectFunction((
      FunctionIdentifier("char_ngrams_native"),
      new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams_native"),
      Builders.arity2("char_ngrams_native")(CharNgrams(_, _))))
    ext.injectFunction((
      FunctionIdentifier("hamming_sign_native"),
      new ExpressionInfo(classOf[HammingSign].getName, "hamming_sign_native"),
      Builders.arity2("hamming_sign_native")(HammingSign(_, _))))
    ext.injectFunction((
      FunctionIdentifier("term_bag_native"),
      new ExpressionInfo(classOf[TermBag].getName, "term_bag_native"),
      Builders.arity1("term_bag_native")(TermBag(_))))
    // Optimizer rung of the extension ladder (round-11): users writing
    // the portable aggregate(zip_with(...)) dot-product fold get the
    // codegen'd DotProduct kernel automatically — see NativeDotFusion
    // for the exact-semantics guard.
    ext.injectOptimizerRule(_ => graft.plans.NativeDotFusion)
  }
}
