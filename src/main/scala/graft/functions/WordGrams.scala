package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_wordgrams(words)` — the word n-gram / chunk builder as ONE
  * codegen'd pass, replacing the
  * `transform(sequence(...), i -> array_join(slice(...)))` higher-order
  * chain that evaluates INTERPRETED per element (the measured lesson
  * behind functions/IntersectCount.scala) and allocates a slice array
  * plus a join buffer per gram.
  *
  * Modes (fixed at construction, not runtime args):
  *   - `stride = 1`: overlapping n-grams — `len - n + 1` grams, empty
  *     when the doc has fewer than n words (the decontaminate /
  *     substring-span shape).
  *   - `stride = n`: non-overlapping chunks — `floor((len-1)/n) + 1`
  *     chunks, the last one truncated (the chunk-dedup shape, matching
  *     `slice`'s clamp-at-end semantics).
  *   - `dedup = true` additionally sorts and uniques the gram array
  *     in-row — document-local dedup fused into the build, so consumers
  *     that only need the per-doc gram SET (decontamination) never pay
  *     a corpus-wide `.distinct()` exchange.
  *
  * Gram text is the space-joined word run — byte-identical to
  * `array_join(slice(words, i+1, n), ' ')`. Caller contract: `words`
  * has no null elements (the `split` tokenizer guarantees it).
  *
  * The child may also be a raw STRING: that path tokenizes by a
  * byte-level ASCII-space scan (maximal non-space runs — exactly
  * `filter(split(text, ' '), x -> x != '')`, since 0x20 never occurs
  * inside a UTF-8 multi-byte sequence) and assembles each gram by
  * direct byte copy — no regex, no intermediate word-array row object.
  */
case class WordGrams(child: Expression, n: Int, stride: Int, dedup: Boolean)
    extends UnaryExpression {
  require(n >= 1 && (stride == 1 || stride == n),
    s"WordGrams supports stride 1 (n-grams) or n (chunks), got n=$n stride=$stride")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${WordGrams.FuncName} expects array<string> or string, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private def fromText: Boolean = child.dataType == StringType

  override protected def nullSafeEval(a: Any): Any =
    if (fromText) WordGrams.buildText(a.asInstanceOf[UTF8String], n, stride, dedup)
    else WordGrams.build(a.asInstanceOf[ArrayData], n, stride, dedup)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      if (fromText)
        s"${ev.value} = graft.functions.WordGrams.buildText($x, $n, $stride, $dedup);"
      else
        s"${ev.value} = graft.functions.WordGrams.build($x, $n, $stride, $dedup);")

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

object WordGrams {
  val FuncName = "graft_wordgrams"

  private val Space = UTF8String.fromString(" ")
  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Static so generated code calls it directly (companion forwarder). */
  def build(words: ArrayData, n: Int, stride: Int, dedup: Boolean): ArrayData = {
    val len = words.numElements()
    val cnt =
      if (stride == 1) len - n + 1
      else if (len == 0) 0
      else (len - 1) / stride + 1
    if (cnt <= 0) return Empty
    val out = new Array[AnyRef](cnt)
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i < cnt) {
      val st = i * stride
      val m = math.min(n, len - st)
      var j = 0
      while (j < m) { buf(j) = words.getUTF8String(st + j); j += 1 }
      out(i) =
        if (m == n) UTF8String.concatWs(Space, buf: _*)
        else UTF8String.concatWs(Space, java.util.Arrays.copyOf(buf, m): _*)
      i += 1
    }
    if (!dedup) return new GenericArrayData(out)
    java.util.Arrays.sort(out)
    var u = 1
    i = 1
    while (i < cnt) {
      if (out(i) != out(i - 1)) { out(u) = out(i); u += 1 }
      i += 1
    }
    if (u == cnt) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, u))
  }

  /** STRING input path: tokenize by ASCII-space byte scan and assemble
    * grams by direct byte copy. Byte-identical output to
    * `build(filter(split(text, ' '), x -> x != ''), ...)`. */
  def buildText(text: UTF8String, n: Int, stride: Int, dedup: Boolean): ArrayData = {
    val tb = text.getBytes
    val tlen = tb.length
    // word offsets: maximal runs of non-0x20 bytes
    var nw = 0
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var i = 0
    while (i < tlen) {
      if (tb(i) != ' ') {
        val st = i
        while (i < tlen && tb(i) != ' ') i += 1
        if (nw == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nw * 2)
          ends = java.util.Arrays.copyOf(ends, nw * 2)
        }
        starts(nw) = st; ends(nw) = i; nw += 1
      } else i += 1
    }
    val cnt =
      if (stride == 1) nw - n + 1
      else if (nw == 0) 0
      else (nw - 1) / stride + 1
    if (cnt <= 0) return Empty
    val out = new Array[AnyRef](cnt)
    var gi = 0
    while (gi < cnt) {
      val st = gi * stride
      val m = math.min(n, nw - st)
      var blen = m - 1
      var j = 0
      while (j < m) { blen += ends(st + j) - starts(st + j); j += 1 }
      val gb = new Array[Byte](blen)
      var pos = 0
      j = 0
      while (j < m) {
        val wl = ends(st + j) - starts(st + j)
        System.arraycopy(tb, starts(st + j), gb, pos, wl)
        pos += wl
        if (j < m - 1) { gb(pos) = ' '; pos += 1 }
        j += 1
      }
      out(gi) = UTF8String.fromBytes(gb)
      gi += 1
    }
    if (!dedup) return new GenericArrayData(out)
    java.util.Arrays.sort(out)
    var u = 1
    var k = 1
    while (k < cnt) {
      if (out(k) != out(k - 1)) { out(u) = out(k); u += 1 }
      k += 1
    }
    if (u == cnt) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, u))
  }

  /** The SQL builder of `graft_wordgrams(words, n, stride, dedup)`
    * ([[graft.GraftExtensions]] checks the arity): the three config args
    * must be literals. */
  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map("sqlExpr" -> s"\"$FuncName\"", "inputName" -> s"`$what`",
          "inputType" -> "\"INT\"", "inputExpr" -> s"\"${other.sql}\""))
    }
    val d = exprs(3) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
      case other => throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map("sqlExpr" -> s"\"$FuncName\"", "inputName" -> "`dedup`",
          "inputType" -> "\"BOOLEAN\"", "inputExpr" -> s"\"${other.sql}\""))
    }
    WordGrams(exprs(0), intLit(exprs(1), "n"), intLit(exprs(2), "stride"), d)
  }

  def apply(words: Column, n: Int, stride: Int = 1, dedup: Boolean = false): Column =
    GraftSessions.column(WordGrams(GraftSessions.expression(words), n, stride, dedup))
}
