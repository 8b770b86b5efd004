package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused cosine similarity over two double arrays: one loop accumulates
  * dot, |a|² and |b|², then returns dot / (sqrt(|a|²) * sqrt(|b|²)).
  *
  * Bit-identical to the three-expression formulation
  * `dot_native(a,b) / (sqrt(dot_native(a,a)) * sqrt(dot_native(b,b)))`
  * (same left-to-right folds, same final ops in the same order — pinned by
  * NativeDotSpec), and to DuckDB's `list_cosine_similarity`, but evaluates
  * each shared array element ONCE instead of reading `a` twice and `b`
  * twice across separate expression trees. On the similarity hot path
  * that's 2× less array access inside WholeStageCodegen.
  *
  * Unequal lengths follow the composed semantics exactly: the dot folds
  * over min(len(a), len(b)) while |a|² covers ALL of `a` and |b|² ALL of
  * `b` (dot_native(a,a) sees every element of `a`) — the tail loops below
  * exist solely to preserve that identity.
  *
  * Null semantics mirror DotProduct: null array → null, null element →
  * null. Zero-norm inputs yield the IEEE result of 0/0 = NaN, the same as
  * the composed formulation.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_native expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  // See DotProduct.nullable: element-nulls null the result, and this keeps
  // codegen's ev.isNull a real variable.
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_native"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val la = xs.numElements()
    val lb = ys.numElements()
    val n = math.min(la, lb)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = xs.getDouble(i)
      val y = ys.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    while (i < la) { // tail of a beyond min length still feeds |a|²
      if (xs.isNullAt(i)) return null
      val x = xs.getDouble(i)
      na += x * x
      i += 1
    }
    i = n
    while (i < lb) {
      if (ys.isNullAt(i)) return null
      val y = ys.getDouble(i)
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val la = ctx.freshName("la")
      val lb = ctx.freshName("lb")
      s"""
         |int $la = $a.numElements();
         |int $lb = $b.numElements();
         |int $n = java.lang.Math.min($la, $lb);
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y;
         |  $na += $x * $x;
         |  $nb += $y * $y;
         |}
         |for (int $i = $n; !${ev.isNull} && $i < $la; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = $a.getDouble($i);
         |  $na += $x * $x;
         |}
         |for (int $i = $n; !${ev.isNull} && $i < $lb; $i++) {
         |  if ($b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $y = $b.getDouble($i);
         |  $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Idempotently registers `cosine_native(a, b)` on the live session. */
  def register(spark: SparkSession): Unit =
    Builders.registerOnce(spark, "cosine_native", classOf[CosineSim])(
      Builders.arity2("cosine_native")(CosineSim(_, _)))
}
