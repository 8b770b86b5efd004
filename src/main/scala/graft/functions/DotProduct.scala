package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two double arrays, folding left-to-right —
  * for EQUAL-LENGTH inputs, exactly the same summation order as
  * `aggregate(zip_with(a, b, _*_))` and DuckDB's `list_aggregate('sum')`,
  * so results are bit-identical to the higher-order formulation and
  * oracle-compatible. On length mismatch the two diverge by construction:
  * zip_with null-pads the shorter side (nulling the sum) while this folds
  * over the min length and returns a number.
  *
  * Why a custom Catalyst Expression (the one place the engine drops below
  * the DataFrame API): Spark's higher-order functions (ArrayTransform /
  * ZipWith / ArrayAggregate) evaluate their lambdas interpreted, outside
  * whole-stage codegen — per-element closure dispatch on the similarity
  * hot path. This expression generates a tight primitive loop via
  * doGenCode instead, keeping vector similarity inside codegen. Used by
  * vec_cosine_topk_native; semantics identical to the composed built-ins
  * (pinned by parity and NativeDotSpec).
  *
  * A null ARRAY input yields null via BinaryExpression's default null
  * handling; a null ELEMENT also yields null overall — the same result
  * `aggregate(zip_with(a, b, _*_))` produces, since null propagates
  * through the lambda product and sum.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_native expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  // Always nullable: a null element nulls the whole product, even when the
  // array columns themselves are non-nullable — and this guarantees codegen
  // materializes ev.isNull as a variable (never the FalseLiteral constant,
  // which the element-null branch below could not assign).
  override def nullable: Boolean = true

  override def prettyName: String = "dot_native"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Idempotently registers `dot_native(a, b)` on the live session so
    * query builders can use it via expr() without session-construction
    * hooks (the driver owns SparkSession creation). */
  def register(spark: SparkSession): Unit =
    Builders.registerOnce(spark, "dot_native", classOf[DotProduct])(
      Builders.arity2("dot_native")(DotProduct(_, _)))
}
