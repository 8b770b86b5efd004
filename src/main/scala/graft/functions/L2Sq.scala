package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Squared Euclidean distance over two double arrays, folding
  * left-to-right — for EQUAL-LENGTH inputs, exactly the same order of
  * IEEE ops as `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0D, _+_)`
  * and DuckDB's
  * `list_aggregate(list_transform(list_zip(a,b), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum')`,
  * so results are bit-identical to the higher-order formulation and
  * oracle-compatible (pinned in NativeDotSpec). On length mismatch the
  * two diverge by construction: zip_with null-pads the shorter side (the
  * lambda then nulls the whole sum) while this folds over the min length
  * and returns a number — pinned by the min-length test.
  *
  * Same rationale as DotProduct (functions/DotProduct.scala): Spark's
  * higher-order lambdas evaluate interpreted, outside whole-stage codegen —
  * per-element closure dispatch on the k-means / kNN distance hot path.
  * This generates one tight primitive loop instead. Null semantics mirror
  * DotProduct: null array → null, null element → null.
  */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2sq_native expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  // See DotProduct.nullable: element-nulls null the result, and this keeps
  // codegen's ev.isNull a real variable.
  override def nullable: Boolean = true

  override def prettyName: String = "l2sq_native"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val d = xs.getDouble(i) - ys.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

object L2Sq {
  /** Idempotently registers `l2sq_native(a, b)` on the live session —
    * same pattern as DotProduct.register. */
  def register(spark: SparkSession): Unit =
    Builders.registerOnce(spark, "l2sq_native", classOf[L2Sq])(
      Builders.arity2("l2sq_native")(L2Sq(_, _)))
}
