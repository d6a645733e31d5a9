package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_gramstats(words)` — per-document word-2-gram repetition
  * statistics as ONE document-local codegen'd pass, returning
  * `array<bigint>` `[n_grams, max_gram_count, dup_gram_count]`.
  *
  * The Gopher repetition filters (`text_repetition`) need, per doc, the
  * total 2-gram count, the count of the most frequent 2-gram, and the
  * summed count of 2-grams occurring more than once. Those are
  * DOCUMENT-local statistics, but the explode → `groupBy(doc_id, g)`
  * formulation pays a corpus-wide (doc, gram) exchange for them — the
  * largest shuffle in the query for data that never needed to leave its
  * partition. Here the gram build (adjacent-word concat), the sort, and
  * the run-length scan all happen inside the row: the only shuffle left
  * in the consumer is the 2×10-key decile histogram.
  *
  * Per the `graft_icount` lesson (functions/IntersectCount.scala), this
  * is a native expression, not a higher-order-function lambda: HOF
  * lambdas evaluate interpreted per element, while this stays a single
  * static call inside whole-stage codegen.
  *
  * Caller contract: `words` is `array<string>` with no null elements
  * (the `split`+`filter` tokenizer guarantees both). Documents with
  * fewer than two words return `[0, 0, 0]`.
  */
case class GramRepetition(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${GramRepetition.FuncName} expects array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    GramRepetition.stats(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.GramRepetition.stats($x);")

  override protected def withNewChildInternal(newChild: Expression): GramRepetition =
    copy(child = newChild)
}

object GramRepetition {
  val FuncName = "graft_gramstats"

  private val Space = UTF8String.fromString(" ")

  /** One pass: materialize the n-1 adjacent-word grams, sort, run-length.
    * Static so generated code calls it directly (the class gets a static
    * forwarder for this companion method). */
  def stats(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n < 2)
      return UnsafeArrayData.fromPrimitiveArray(Array(0L, 0L, 0L))
    val g = new Array[AnyRef](n - 1)
    var i = 0
    while (i < n - 1) {
      g(i) = UTF8String.concat(words.getUTF8String(i), Space,
        words.getUTF8String(i + 1))
      i += 1
    }
    java.util.Arrays.sort(g)
    var m = 1L; var d = 0L; var run = 1L
    i = 1
    while (i < n - 1) {
      if (g(i) == g(i - 1)) run += 1
      else {
        if (run > 1) d += run
        if (run > m) m = run
        run = 1
      }
      i += 1
    }
    if (run > 1) d += run
    if (run > m) m = run
    UnsafeArrayData.fromPrimitiveArray(Array((n - 1).toLong, m, d))
  }

  def apply(a: Column): Column = GraftSessions.column(GramRepetition(GraftSessions.expression(a)))
}
