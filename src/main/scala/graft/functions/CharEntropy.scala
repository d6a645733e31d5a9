package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_entropy(s)` — Shannon entropy (bits per character) of a
  * string's codepoint distribution, in ONE codegen'd pass.
  *
  * The doc-local quality signal behind boilerplate/low-diversity
  * filters: natural prose sits near the language's character entropy
  * (~4.1 bits for English letters+punct), while repeated padding,
  * ASCII-art and template boilerplate collapse toward 0 — a cheap
  * complement to `graft_gram_repetition`'s word-level signal (the
  * classic "compressibility" heuristic without paying for a real
  * compressor).
  *
  * Exactness contract: counts are exact longs; the only float work is
  * one log2 per DISTINCT codepoint, accumulated in ASCENDING codepoint
  * order (deterministic summation), as
  * `H = log2(n) − (Σ c·log2 c)/n`. Callers round to 6 dp before any
  * cross-engine compare — a last-ulp libm difference vs an oracle's
  * own entropy aggregate is absorbed by the rounding.
  *
  * NULL for the empty string (no distribution to measure) — mirrors
  * SQL aggregate semantics over zero rows.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${CharEntropy.FuncName} expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    CharEntropy.entropyOf(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"""
      |java.lang.Double r = graft.functions.CharEntropy.entropyOf($x);
      |if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
      |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  val FuncName = "graft_entropy"

  private val Log2 = math.log(2.0)

  /** Static so generated code calls it directly. Returns null for the
    * empty string.
    *
    * NOT named `eval`: scalac suppresses a companion object's static
    * forwarder when the class has ANY member of the same name, and the
    * case class inherits `eval(InternalRow)` from `Expression` — so a
    * companion `eval` would leave NO `static eval(UTF8String)` on the
    * class file and Janino would fail every whole-stage compile,
    * silently de-codegening the entire enclosing stage. The rule
    * applies to every expression companion here; CodegenCompilesSpec
    * gates the whole class of bug. */
  def entropyOf(s: UTF8String): java.lang.Double = {
    val str = s.toString
    if (str.isEmpty) return null
    // exact codepoint counts; TreeMap fixes the summation order
    val counts = new java.util.TreeMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = counts.computeIfAbsent(cp, _ => new Array[Long](1))
      slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    var sum = 0.0 // Σ c·log2(c), ascending-codepoint order
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toDouble
      sum += c * (math.log(c) / Log2)
    }
    math.log(n.toDouble) / Log2 - sum / n
  }

  def apply(s: Column): Column = GraftSessions.column(CharEntropy(GraftSessions.expression(s)))
}
