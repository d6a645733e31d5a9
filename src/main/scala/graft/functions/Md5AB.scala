package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_md5ab(s)` → `[hi, lo]`: the two unsigned 32-bit halves of
  * `md5(s)`'s first 8 bytes — the seed pair the MinHash universal family
  * `(a + p·b) mod 2³²` consumes (after forcing b odd) and the 64 token
  * bits SimHash reads.
  *
  * Semantics are bit-identical to the composed built-ins
  * `conv(substring(md5(s), 1, 8), 16, 10)` /
  * `conv(substring(md5(s), 9, 8), 16, 10)` (and to the DuckDB
  * oracle's `CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT)`), but
  * the built-in chain pays, per shingle: a fresh MessageDigest
  * allocation inside Spark's Md5, a 32-char hex ENCODE of the digest,
  * two substring copies, and two conv() string PARSES — all to round-trip
  * bytes the digest already held. This expression reuses a thread-local
  * digest and reads the 8 bytes directly; stays inside whole-stage
  * codegen via a static call.
  */
case class Md5AB(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${Md5AB.FuncName} expects a string arg, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(s: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Md5AB.ab(s.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.Md5AB.ab($s));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Md5AB =
    copy(child = newChild)
}

object Md5AB {
  val FuncName = "graft_md5ab"

  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** (first-4-bytes, next-4-bytes) of md5, as unsigned big-endian
    * longs — exactly `CAST('0x' || substr(md5_hex, 1|9, 8) AS BIGINT)`. */
  def ab(s: UTF8String): Array[Long] = {
    val md = tlMd.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val a = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val b = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    Array(a, b)
  }

  def apply(c: Column): Column = GraftSessions.column(Md5AB(GraftSessions.expression(c)))
}
