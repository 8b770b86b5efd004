package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Shared function-builder plumbing for the native expressions. */
object Builders {

  /** Register `name` in the session's function registry unless it is
    * already there. Query builders call `register` on every build, and
    * registering again would replace the function and log a "replaced a
    * previously registered function" WARN each time. */
  def registerOnce(spark: SparkSession, name: String, cls: Class[_])
      (builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    if (!registry.functionExists(id))
      registry.registerFunction(id, new ExpressionInfo(cls.getName, name),
        builder)
  }

  /** Unary-expression builder with the proper WRONG_NUM_ARGS analysis
    * error — see arity2's rationale. */
  def arity1(name: String)(mk: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => mk(a)
    case other => throw new AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> "1",
        "actualNum" -> other.size.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
  }

  /** Wrap a binary-expression constructor as a registry builder that
    * rejects wrong arity with a proper analysis error — unchecked
    * `children(0)/children(1)` indexing would surface SQL like
    * `l2sq_native(a)` as an IndexOutOfBoundsException instead of the
    * standard WRONG_NUM_ARGS message. */
  def arity2(name: String)(mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => mk(a, b)
    case other => throw new AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> "2",
        "actualNum" -> other.size.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
  }
}
