package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_hashbuckets(text, nb, asSet)` — the md5 token-bucketing used
  * by the hashed-feature operators (token_drift, quality_classifier),
  * fused into ONE codegen'd pass per document. The composed form
  * `explode(tokens) → conv(substring(md5(w),1,8),16,10) % nb` pays, per
  * corpus token: a Generate row, a fresh digest, a 32-char hex ENCODE,
  * a substring copy, and a conv() string PARSE — to recover 4 bytes the
  * digest already held. This walks the text bytes once, digests each
  * token in place (thread-local MD5, zero token copies), and emits
  * either the per-bucket COUNT vector (`asSet=false`, `array<int>` of
  * length nb — bucket id = array position) or the DISTINCT SORTED
  * bucket set (`asSet=true`, `array<long>`, ascending).
  *
  * Bucket parity (oracle contract): bucket =
  * `CAST(concat('0x', substr(md5(w),1,8)) AS BIGINT) % nb` — the first
  * 4 digest bytes as an unsigned big-endian int, mod nb. Tokenization
  * parity: `filter(split(text,' '), x -> x != '')` (maximal non-space
  * byte runs).
  */
case class HashBuckets(child: Expression, nb: Int, asSet: Boolean)
    extends UnaryExpression {
  require(nb >= 1 && nb <= 65536, s"nb out of range: $nb")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${HashBuckets.FuncName} expects string, got ${t.simpleString}")
  }

  override def dataType: DataType =
    if (asSet) ArrayType(LongType, containsNull = false)
    else ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(t: Any): Any =
    if (asSet) HashBuckets.set(t.asInstanceOf[UTF8String], nb)
    else HashBuckets.counts(t.asInstanceOf[UTF8String], nb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      if (asSet)
        s"${ev.value} = graft.functions.HashBuckets.set($x, $nb);"
      else
        s"${ev.value} = graft.functions.HashBuckets.counts($x, $nb);")

  override protected def withNewChildInternal(newChild: Expression): HashBuckets =
    copy(child = newChild)
}

object HashBuckets {
  val FuncName = "graft_hashbuckets"

  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Per-token bucket fill over one text; returns the raw int[nb]. */
  private def fill(text: UTF8String, nb: Int): Array[Int] = {
    val md = tlMd.get()
    val tb = text.getBytes
    val n = tb.length
    val out = new Array[Int](nb)
    var i = 0
    while (i < n) {
      if (tb(i) != ' ') {
        val st = i
        while (i < n && tb(i) != ' ') i += 1
        md.reset()
        md.update(tb, st, i - st)
        val d = md.digest()
        val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        out((v % nb).toInt) += 1
      } else i += 1
    }
    out
  }

  /** Static codegen entry: per-bucket token counts, array position =
    * bucket id. */
  def counts(text: UTF8String, nb: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(fill(text, nb))

  /** Static codegen entry: distinct buckets, ascending, as longs —
    * exactly `sort_array(array_distinct(transform(tokens, bucketOf)))`. */
  def set(text: UTF8String, nb: Int): ArrayData = {
    val c = fill(text, nb)
    var k = 0
    var b = 0
    while (b < nb) { if (c(b) > 0) k += 1; b += 1 }
    val out = new Array[Long](k)
    var j = 0
    b = 0
    while (b < nb) { if (c(b) > 0) { out(j) = b.toLong; j += 1 }; b += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The SQL builder of `graft_hashbuckets(text, nb, asSet)`
    * ([[graft.GraftExtensions]] checks the arity): both config args must
    * be literals. */
  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    (exprs(1), exprs(2)) match {
      case (org.apache.spark.sql.catalyst.expressions.Literal(nb: Int, _),
          org.apache.spark.sql.catalyst.expressions.Literal(asSet: Boolean, _)) =>
        HashBuckets(exprs(0), nb, asSet)
      case _ => throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map("sqlExpr" -> s"\"$FuncName\"", "inputName" -> "`nb`/`asSet`",
          "inputType" -> "\"INT, BOOLEAN\"",
          "inputExpr" -> s"\"${exprs(1).sql}, ${exprs(2).sql}\""))
    }
  }

  def apply(text: Column, nb: Int, asSet: Boolean): Column =
    GraftSessions.column(HashBuckets(GraftSessions.expression(text), nb, asSet))
}
