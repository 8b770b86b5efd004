package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One document's term bag in ONE pass over its token array:
  * `term_bag_native(arr)` returns `array<struct<term: string, k: bigint>>`
  * holding each distinct non-null, non-empty element once with its count,
  * in first-occurrence order. Per row it is the reference
  * `explode(arr) → filter(length(term) > 0) → groupBy(term).count`, but
  * row-local: a per-document term statistic no longer fans every token out
  * into its own row and re-aggregates on (doc_id, term) behind a shuffle.
  * Callers fold case with Spark's own `lower` before the bag
  * (`term_bag_native(transform(tk, t -> lower(t)))`), so case folding
  * stays value-identical to the exploded form and to DuckDB's `lower`.
  *
  * Terms compare as UTF-8 bytes (the default binary collation's equality,
  * the grouping key the exploded form used). Null semantics: a null or
  * empty array gives an empty bag, never null — a document without terms
  * contributes nothing, as in the exploded form.
  *
  * At 100 TB this runs embarrassingly parallel inside WholeStageCodegen;
  * a corpus-level statistic explodes the bag (one row per distinct
  * (doc, term)) and its term-keyed aggregate is the only shuffle.
  */
case class TermBag(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"term_bag_native expects an array<string> argument, got ${other.simpleString}")
  }

  override def dataType: DataType = TermBag.bagType

  override def nullable: Boolean = false

  override def prettyName: String = "term_bag_native"

  override def eval(input: InternalRow): Any =
    TermBag.build(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The loop lives in a static helper, as in CharNgrams: the call stays
    // inside the WholeStageCodegen stage and the JIT inlines it.
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} =
        graft.functions.TermBag.build(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TermBag =
    copy(child = newChild)
}

object TermBag {

  val bagType: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("k", LongType, nullable = false))), containsNull = false)

  private val empty = new GenericArrayData(Array.empty[Any])

  /** One-pass bag builder shared by eval and codegen: an open-addressing
    * table of slot numbers (0 = free) over the terms' hashes, so the
    * per-token lookup boxes nothing. */
  def build(arr: ArrayData): ArrayData = {
    if (arr == null || arr.numElements() == 0) return empty
    val n = arr.numElements()
    val mask = Integer.highestOneBit(2 * n) * 2 - 1 // load factor ≤ 1/2
    val table = new Array[Int](mask + 1)
    val terms = new Array[UTF8String](n)
    val hashes = new Array[Int](n)
    val ks = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (t.numBytes > 0) {
          val h = t.hashCode
          var p = h & mask
          var s = table(p) - 1
          while (s >= 0 && !(hashes(s) == h && terms(s) == t)) {
            p = (p + 1) & mask
            s = table(p) - 1
          }
          if (s >= 0) ks(s) += 1L
          else {
            table(p) = m + 1
            terms(m) = t
            hashes(m) = h
            ks(m) = 1L
            m += 1
          }
        }
      }
      i += 1
    }
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      out(j) = new GenericInternalRow(Array[Any](terms(j), ks(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Idempotently registers `term_bag_native(arr)` on the session. */
  def register(spark: SparkSession): Unit =
    Builders.registerOnce(spark, "term_bag_native", classOf[TermBag])(
      Builders.arity1("term_bag_native")(TermBag(_)))
}
