package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_redact_scan(text)` → `[n_email, n_phone, n_card, n_ssn,
  * redacted_len]`: one expression computing what the redact operator's
  * regex formulation needed EIGHT java.util.regex passes for — a match
  * count per pattern on the original text plus the length after the
  * chained priority replacement.
  *
  * Each matcher is a deterministic char-walk replicating
  * java.util.regex semantics for its pattern (leftmost match, greedy
  * with backtrack for the email TLD, non-overlapping successive finds),
  * the same approach as [[graft.labelers.FastMatch]] for the anchored
  * cell rules. The DuckDB oracle keeps the regex formulation, so the
  * correctness row compares two independent implementations; this class
  * is additionally property-tested against the java.util.regex chain.
  *
  * Patterns (the redact operator's rule set, priority order):
  *  - EMAIL  `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`
  *  - PHONE  `\([0-9]{3}\) [0-9]{3}-[0-9]{4}`
  *  - CARD   `[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}`
  *  - SSN    `[0-9]{3}-[0-9]{2}-[0-9]{4}`
  * Replacement tokens are `[EMAIL_ADDRESS]` etc.; `redacted_len` counts
  * CODEPOINTS (Spark `length()` semantics).
  */
case class RedactScan(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${RedactScan.FuncName} expects a string arg, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(s: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(RedactScan.scan(s.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.RedactScan.scan($s.toString()));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): RedactScan =
    copy(child = newChild)
}

object RedactScan {
  val FuncName = "graft_redact_scan"

  private def isLocal(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '%' ||
      c == '+' || c == '-'
  private def isDomain(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '-'
  private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Leftmost email match attempt anchored on the '@' at `j`, resuming
    * from `pos`. Returns (start, endExclusive) or null. Mirrors
    * java.util.regex: the match starts at the earliest position whose
    * local-part run reaches this '@'; the greedy domain run backtracks
    * from its maximal extent to the last '.' followed by ≥2 letters,
    * and the TLD run is then greedy. */
  private def emailAt(s: String, pos: Int, j: Int): (Int, Int) = {
    var i = j
    while (i > pos && isLocal(s.charAt(i - 1))) i -= 1
    if (i == j) return null // empty local part
    var k = j + 1
    val n = s.length
    while (k < n && isDomain(s.charAt(k))) k += 1
    // backtrack: largest m with a non-empty domain head [j+1, m), '.' at
    // m, and ≥2 letters from m+1 (the TLD run is greedy, may stop
    // before k — digits/'-'/'.' end it)
    var m = k - 1
    while (m >= j + 2) {
      if (s.charAt(m) == '.') {
        var e = m + 1
        while (e < n && isAlpha(s.charAt(e))) e += 1
        if (e - (m + 1) >= 2) return (i, e)
      }
      m -= 1
    }
    null
  }

  /** One pass of the email matcher: count matches and, if `out` is
    * non-null, append the redacted form. Returns the match count. */
  private def emailPass(s: String, out: java.lang.StringBuilder): Long = {
    var cnt = 0L
    var pos = 0
    var copied = 0
    val n = s.length
    while (pos < n) {
      val j = s.indexOf('@', pos)
      if (j < 0) pos = n
      else {
        val hit = emailAt(s, pos, j)
        if (hit == null) pos = j + 1
        else {
          cnt += 1
          if (out != null) {
            out.append(s, copied, hit._1).append("[EMAIL_ADDRESS]")
            copied = hit._2
          }
          pos = hit._2
        }
      }
    }
    if (out != null) out.append(s, copied, n)
    cnt
  }

  /** Fixed-shape matcher: `shape` encodes the pattern char-by-char with
    * 'd' = digit, any other char = itself literally. */
  private def fixedPass(s: String, shape: String, token: String,
      out: java.lang.StringBuilder): Long = {
    var cnt = 0L
    var pos = 0
    var copied = 0
    val n = s.length
    val m = shape.length
    while (pos + m <= n) {
      var ok = true
      var t = 0
      while (ok && t < m) {
        val sc = shape.charAt(t)
        val c = s.charAt(pos + t)
        ok = if (sc == 'd') isDigit(c) else c == sc
        t += 1
      }
      if (ok) {
        cnt += 1
        if (out != null) {
          out.append(s, copied, pos).append(token)
          copied = pos + m
        }
        pos += m
      } else pos += 1
    }
    if (out != null) out.append(s, copied, n)
    cnt
  }

  private val PhoneShape = "(ddd) ddd-dddd"
  private val CardShape = "dddd dddd dddd dddd"
  private val SsnShape = "ddd-dd-dddd"

  def scan(s: String): Array[Long] = {
    // counts on the ORIGINAL text, each pattern judged independently
    val nEmail = if (s.indexOf('@') >= 0) emailPass(s, null) else 0L
    val nPhone = if (s.indexOf('(') >= 0)
      fixedPass(s, PhoneShape, null, null) else 0L
    val nCard = fixedPass(s, CardShape, null, null)
    val nSsn = if (s.indexOf('-') >= 0)
      fixedPass(s, SsnShape, null, null) else 0L
    // chained replacement in priority order for the redacted length
    var cur = s
    if (nEmail > 0) {
      val b = new java.lang.StringBuilder(cur.length + 16)
      emailPass(cur, b); cur = b.toString
    }
    def rep(shape: String, token: String): Unit = {
      val b = new java.lang.StringBuilder(cur.length + 16)
      if (fixedPass(cur, shape, token, b) > 0) cur = b.toString
    }
    rep(PhoneShape, "[PHONE_NUMBER]")
    rep(CardShape, "[CREDIT_CARD]")
    rep(SsnShape, "[SSN]")
    Array(nEmail, nPhone, nCard, nSsn,
      cur.codePointCount(0, cur.length).toLong)
  }

  def apply(c: Column): Column = GraftSessions.column(RedactScan(GraftSessions.expression(c)))
}
