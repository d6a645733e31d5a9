package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_dateshape(cell)` — all 16 datetime-format shape tests
  * ([[DatetimeFormats.formats]]) as ONE codegen'd char walk returning a
  * bitmask (bit i ⇔ format i's shape regex matches after the ordinal
  * day-suffix strip). The composed form paid, per row, 16 regex
  * Matchers plus 16 `regexp_replace` suffix-strip evaluations; this
  * strips once and classifies against the fixed shape table with exact
  * char-class checks (digit / upper / lowercase-run / literal).
  *
  * Bit semantics are property-tested identical to
  * `stripDaySuffix(cell) rlike formats(i).regex` — the shapes live in
  * the RE2∩Java subset, so the same mask describes what the DuckDB
  * oracle's regex counts see.
  */
case class DateShapeMask(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${DateShapeMask.FuncName} expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(v: Any): Any =
    DateShapeMask.mask(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DateShapeMask.mask($c)")

  override protected def withNewChildInternal(newChild: Expression): DateShapeMask =
    copy(child = newChild)
}

object DateShapeMask {
  val FuncName = "graft_dateshape"

  /** Shape spec token stream per format, compiled from the SAME regex
    * strings [[DatetimeFormats.formats]] ships (single source of truth):
    * supports exactly the constructs those shapes use — `[0-9]{n}`,
    * `[A-Z]`, `[a-z]{n}` / `[a-z]{m,n}`, and literal chars. */
  private[graft] final case class Tok(kind: Int, min: Int, max: Int, lit: Char)
  private val KDigit = 0; private val KUpper = 1; private val KLower = 2
  private val KLit = 3

  private[graft] def compile(regex: String): Array[Tok] = {
    require(regex.startsWith("^") && regex.endsWith("$"), regex)
    val body = regex.substring(1, regex.length - 1)
    val out = scala.collection.mutable.ArrayBuffer[Tok]()
    var i = 0
    def reps(default: Int): (Int, Int) =
      if (i < body.length && body.charAt(i) == '{') {
        val close = body.indexOf('}', i)
        val spec = body.substring(i + 1, close)
        i = close + 1
        spec.split(",") match {
          case Array(n) => (n.toInt, n.toInt)
          case Array(m, n) => (m.toInt, n.toInt)
        }
      } else (default, default)
    while (i < body.length) {
      if (body.startsWith("[0-9]", i)) {
        i += 5; val (m, n) = reps(1)
        // the matcher consumes exactly `min` digits (every current shape
        // is fixed-width); a variable run must fail HERE at init, not
        // silently never match — same guard as the uppercase case
        require(m == n, s"variable digit run unsupported: $regex")
        out += Tok(KDigit, m, n, ' ')
      } else if (body.startsWith("[A-Z]", i)) {
        i += 5; val (m, n) = reps(1)
        require(m == n, s"variable upper run unsupported: $regex")
        (1 to m).foreach(_ => out += Tok(KUpper, 1, 1, ' '))
      } else if (body.startsWith("[a-z]", i)) {
        i += 5; val (m, n) = reps(1); out += Tok(KLower, m, n, ' ')
      } else {
        out += Tok(KLit, 1, 1, body.charAt(i)); i += 1
      }
    }
    out.toArray
  }

  private val specs: Array[Array[Tok]] =
    DatetimeFormats.formats.map(f => compile(f.regex)).toArray

  /** Longest input any spec can match — derived from the compiled
    * token table so a future longer format widens the early-exit bound
    * automatically instead of silently never firing its bit. */
  private val maxLen: Int = specs.map(_.map(_.max).sum).max

  /** Greedy-with-backoff match of one spec against chars [0, n). The
    * only variable-length token in the table is a lowercase run
    * FOLLOWED by a non-lowercase literal, so greedy run-consumption is
    * exact (no backtracking cases exist in these shapes). */
  private def matches(s: Array[Char], n: Int, spec: Array[Tok]): Boolean = {
    var i = 0
    var t = 0
    while (t < spec.length) {
      val tok = spec(t)
      tok.kind match {
        case KDigit =>
          var k = 0
          while (k < tok.min) {
            if (i >= n || s(i) < '0' || s(i) > '9') return false
            i += 1; k += 1
          }
        case KUpper =>
          if (i >= n || s(i) < 'A' || s(i) > 'Z') return false
          i += 1
        case KLower =>
          var k = 0
          while (i < n && k < tok.max && s(i) >= 'a' && s(i) <= 'z') {
            i += 1; k += 1
          }
          if (k < tok.min) return false
        case KLit =>
          if (i >= n || s(i) != tok.lit) return false
          i += 1
      }
      t += 1
    }
    i == n
  }

  /** Static codegen entry: ordinal-suffix strip + 16 shape tests in one
    * walk over the (short) cell. */
  def mask(u: UTF8String): Int = {
    val str = u.toString
    val raw = str.toCharArray
    // strip every digit-anchored st/nd/rd/th — LEFT-TO-RIGHT
    // NON-OVERLAPPING over the input, exactly like the global
    // regexp_replace("([0-9])(st|nd|rd|th)", "$1"): the matched digit is
    // consumed by the match, so the scan resumes after the suffix
    val buf = new Array[Char](raw.length)
    var n = 0
    var i = 0
    while (i < raw.length) {
      val c = raw(i)
      if (c >= '0' && c <= '9' && i + 2 < raw.length) {
        val c1 = raw(i + 1); val c2 = raw(i + 2)
        val isSfx = (c1 == 's' && c2 == 't') || (c1 == 'n' && c2 == 'd') ||
          (c1 == 'r' && c2 == 'd') || (c1 == 't' && c2 == 'h')
        if (isSfx) { buf(n) = c; n += 1; i += 3 }
        else { buf(n) = c; n += 1; i += 1 }
      } else { buf(n) = c; n += 1; i += 1 }
    }
    if (n == 0 || n > maxLen) return 0
    var m = 0
    var f = 0
    while (f < specs.length) {
      if (matches(buf, n, specs(f))) m |= (1 << f)
      f += 1
    }
    m
  }

  def apply(c: Column): Column = GraftSessions.column(DateShapeMask(GraftSessions.expression(c)))
}
