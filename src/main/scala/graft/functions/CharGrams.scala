package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_chargrams(s, n)` — all overlapping character n-grams of a
  * string as ONE codegen'd pass, replacing the
  * `transform(sequence(1, len-n+1), i -> substr(s, i, n))` chain that
  * evaluates INTERPRETED per position AND rescans the string from byte 0
  * on every `substr` call (codepoint addressing) — O(len²) on the NB
  * training/scoring hot path (langid_nb / labeler_nb / ner_nb /
  * quality_classifier features).
  *
  * Here the byte array is scanned ONCE to index codepoint starts
  * (UTF-8: every byte not matching 10xxxxxx), then each gram is a
  * direct byte-range copy — O(len · n) total, codepoint-identical to
  * the `substr` chain (strings shorter than n codepoints yield the
  * empty array, matching the callers' length guard).
  */
case class CharGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"CharGrams needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${CharGrams.FuncName} expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    CharGrams.build(a.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.CharGrams.build($x, $n);")

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)
}

object CharGrams {
  val FuncName = "graft_chargrams"

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Static so generated code calls it directly (companion forwarder). */
  def build(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    val blen = b.length
    // codepoint start offsets (bytes not of the form 10xxxxxx)
    var starts = new Array[Int](math.max(16, blen))
    var cp = 0
    var i = 0
    while (i < blen) {
      if ((b(i) & 0xC0) != 0x80) { starts(cp) = i; cp += 1 }
      i += 1
    }
    val cnt = cp - n + 1
    if (cnt <= 0) return Empty
    val out = new Array[AnyRef](cnt)
    var g = 0
    while (g < cnt) {
      val st = starts(g)
      val en = if (g + n < cp) starts(g + n) else blen
      out(g) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, st, en))
      g += 1
    }
    new GenericArrayData(out)
  }

  /** The SQL builder of `graft_chargrams(s, n)` ([[graft.GraftExtensions]]
    * checks the arity): `n` must be an int literal. */
  private[graft] def builder(exprs: Seq[Expression]): Expression =
    exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
        CharGrams(exprs(0), v)
      case other => throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map("sqlExpr" -> s"\"$FuncName\"", "inputName" -> "`n`",
          "inputType" -> "\"INT\"", "inputExpr" -> s"\"${other.sql}\""))
    }

  def apply(s: Column, n: Int): Column =
    GraftSessions.column(CharGrams(GraftSessions.expression(s), n))
}
