package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All character n-grams of a string in ONE forward pass:
  * `char_ngrams_native(text, n)` ≡
  * `filter(transform(sequence(1, greatest(length(text)-n+1, 1)),
  *         p -> substring(text, p, n)), g -> length(g) = n)`
  * but O(bytes) instead of O(chars²): the composed form re-seeks from
  * byte 0 on EVERY `substring(text, p, n)` call because UTF-8 positions
  * are codepoint indices (Spark's `UTF8String.substringSQL` scans from
  * the front), so a 300-char document costs ~45k codepoint reads for
  * 298 trigrams. Here one scan records every codepoint's byte offset,
  * then each n-gram is a zero-copy byte-range slice — ~300 reads for
  * the same 298 trigrams, and the per-position closure/array machinery
  * of `transform` disappears.
  *
  * Codepoint semantics match `substring`/`length` exactly (offsets
  * advance by `UTF8String.numBytesForFirstByte`, the same decode rule),
  * so results are value-identical to the composed form and to DuckDB's
  * `substring(text, p, n)` — pinned by CharNgramsSpec. Strings shorter
  * than n yield an empty array (the composed form's length filter).
  *
  * Null semantics: null string or null n → null. n < 1 → empty array.
  * At 100 TB this runs embarrassingly parallel inside WholeStageCodegen;
  * the downstream explode + hash-agg is the only shuffle.
  */
case class CharNgrams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"char_ngrams_native expects (string, int) arguments, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "char_ngrams_native"

  override protected def nullSafeEval(s: Any, n: Any): Any =
    CharNgrams.build(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // The loop lives in a static helper rather than inlined codegen: the
    // call stays inside the WholeStageCodegen stage (no iterator break),
    // and the JIT inlines a monomorphic static target just as well.
    nullSafeCodeGen(ctx, ev, (s, n) =>
      s"${ev.value} = graft.functions.CharNgrams.build($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharNgrams =
    copy(left = newLeft, right = newRight)
}

object CharNgrams {

  /** One-pass n-gram builder shared by eval and codegen. */
  def build(s: UTF8String, n: Int): ArrayData = {
    if (n < 1) return new GenericArrayData(Array.empty[Any])
    val bytes = s.getBytes
    val len = bytes.length
    // offs(i) = byte offset where codepoint i starts; offs(numChars) = len.
    // Worst case one offset per byte (ASCII) — size len+1 covers all.
    val offs = new Array[Int](len + 1)
    var i = 0
    var c = 0
    while (i < len) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(c) = len
    if (c < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](c - n + 1)
    var j = 0
    while (j <= c - n) {
      out(j) = UTF8String.fromBytes(bytes, offs(j), offs(j + n) - offs(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Idempotently registers `char_ngrams_native(text, n)` on the session. */
  def register(spark: SparkSession): Unit =
    Builders.registerOnce(spark, "char_ngrams_native", classOf[CharNgrams])(
      Builders.arity2("char_ngrams_native")(CharNgrams(_, _)))
}
