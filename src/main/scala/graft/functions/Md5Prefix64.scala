package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `md5_prefix64_native(s)` ≡ `CAST(conv(substring(md5(s), 1, 15), 16, 10)
  * AS BIGINT)` — the seeded-minhash hash family's per-token kernel
  * (SURVEY §2.11), as ONE digest + bit extraction instead of four chained
  * expressions. The composed form materializes a 32-char hex UTF8String,
  * substrings it, and routes the prefix through `Conv`'s arbitrary-radix
  * string parser (per-char multiply loop + UTF8String round-trips) — per
  * profile the dominant per-row cost of the dedup tier's signature stage
  * (8 seeded evaluations per shingle occurrence). Here: one MD5 over the
  * raw UTF-8 bytes, then the first 15 hex digits read directly off the
  * digest as `(first 8 bytes, big-endian) >>> 4` (60 bits, always
  * non-negative — exactly the integer the hex prefix denotes, so the
  * value and the DuckDB oracle replay
  * `('0x' || substring(md5(s), 1, 15))::BIGINT` are untouched;
  * Round13NativeSpec pins bit-equality against the composed form).
  *
  * Null semantics: null in → null out (UnaryExpression default).
  * 100-TB: row-local inside WholeStageCodegen; the thread-local digest
  * instance makes it allocation-free per row beyond the digest's own
  * scratch. */
case class Md5Prefix64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"md5_prefix64_native expects a string argument, got ${t.simpleString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "md5_prefix64_native"

  override protected def nullSafeEval(s: Any): Any =
    Md5Prefix64.hash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Prefix64.hash($s);")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

object Md5Prefix64 {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex digits of md5(s) as an unsigned 60-bit long. */
  def hash(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val hi =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    hi >>> 4
  }

  /** Idempotently registers `md5_prefix64_native(s)` on the session. */
  def register(spark: SparkSession): Unit =
    Builders.registerOnce(spark, "md5_prefix64_native", classOf[Md5Prefix64])(
      Builders.arity1("md5_prefix64_native")(Md5Prefix64(_)))
}
