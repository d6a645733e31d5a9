package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/* The profiler's pass-1 column statistics as native typed aggregates, so
  * that the whole pass plans as ONE ObjectHashAggregate job instead of
  * chunks of whole-stage-codegen'd declarative aggregates.
  *
  * Every statistic copies the update, merge and evaluate arithmetic of
  * the Spark built-in it replaces (`Count`, `Min`/`Max`, `Sum`,
  * `Average`, `CentralMomentAgg`, `Covariance`, `RLike`) expression for
  * expression, in the same association order, so the decoded values are
  * bit-identical to the built-ins' (NativeAggregatesSpec pins each one).
  * Two shortcuts are identities: an `Average` sum starts at +0.0 and so
  * is never -0.0, which makes the `coalesce(x, 0.0)` a null row adds a
  * no-op that is skipped; and one `CentralMomentAgg` buffer serves
  * var_pop, skewness and kurtosis, whose n, avg, m2 (and m3) recurrences
  * are the same expressions. */

/** An aggregation buffer of fixed double and long slots, updated in
  * place. A min/max/sum slot is "null" while its non-null count is 0. */
final class StatBuf(val d: Array[Double], val l: Array[Long])

/** Shared plumbing of the slot-buffer aggregates. */
abstract class StatBufAggregate extends TypedImperativeAggregate[StatBuf] {
  protected def doubleSlots: Int
  protected def longSlots: Int

  override def nullable: Boolean = false
  override def createAggregationBuffer(): StatBuf =
    new StatBuf(new Array[Double](doubleSlots), new Array[Long](longSlots))

  /** Layout: the doubles, then the longs (the slot counts are fixed by
    * the expression, so no header). */
  override def serialize(b: StatBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * (b.d.length + b.l.length))
    bb.asDoubleBuffer().put(b.d)
    bb.position(8 * b.d.length)
    bb.asLongBuffer().put(b.l)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): StatBuf = {
    val b = createAggregationBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.asDoubleBuffer().get(b.d)
    bb.position(8 * b.d.length)
    bb.asLongBuffer().get(b.l)
    b
  }

  /** `Count`'s merge of the first `n` long slots: `b`'s counts into `a`. */
  protected def addCounts(a: StatBuf, b: StatBuf, n: Int): Unit = {
    var i = 0
    while (i < n) { a.l(i) += b.l(i); i += 1 }
  }
}

/** Spark's double arithmetic for the slot aggregates. */
private[functions] object StatArith {

  /** `SQLOrderingUtil.compareDoubles`: NaN is largest, -0.0 equals 0.0. */
  def cmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** `Min`'s `least(min, x)` over a slot whose non-null count was `n`
    * before `x`: the held value wins a tie. */
  def least(d: Array[Double], i: Int, n: Long, x: Double): Unit =
    if (n == 0 || cmp(x, d(i)) < 0) d(i) = x
  def greatest(d: Array[Double], i: Int, n: Long, x: Double): Unit =
    if (n == 0 || cmp(x, d(i)) > 0) d(i) = x

  /** A min/max/sum slot's value: null while no value was seen. */
  def orNull(n: Long, x: Double): Any = if (n == 0) null else x

  /** `Sum`'s `coalesce(coalesce(sum, 0.0) + x, sum)`. */
  def sum(d: Array[Double], i: Int, n: Long, x: Double): Unit =
    d(i) = (if (n == 0) 0.0 else d(i)) + x

  /** `least`/`greatest` merge of the min and max slots at `i`, `i + 1`
    * of two buffers whose non-null counts are `na` and `nb`. */
  def mergeExtremes(a: Array[Double], na: Long, b: Array[Double], nb: Long,
      i: Int): Unit = if (nb > 0) {
    least(a, i, na, b(i))
    greatest(a, i + 1, na, b(i + 1))
  }

  /** `CentralMomentAgg` update of the (n, avg, m2, m3, m4) slots at `o`. */
  def momentsUpdate(d: Array[Double], o: Int, x: Double): Unit = {
    val n = d(o); val avg = d(o + 1); val m2 = d(o + 2); val m3 = d(o + 3)
    val m4 = d(o + 4)
    val newN = n + 1.0
    val delta = x - avg
    val deltaN = delta / newN
    val newAvg = avg + deltaN
    val newM2 = m2 + delta * (delta - deltaN)
    val delta2 = delta * delta
    val deltaN2 = deltaN * deltaN
    val newM3 = m3 - 3.0 * deltaN * newM2 + delta * (delta2 - deltaN2)
    val newM4 = m4 - 4.0 * deltaN * newM3 - 6.0 * deltaN2 * newM2 +
      delta * (delta * delta2 - deltaN * deltaN2)
    d(o) = newN; d(o + 1) = newAvg; d(o + 2) = newM2; d(o + 3) = newM3
    d(o + 4) = newM4
  }

  /** `CentralMomentAgg` merge of `b`'s moment slots into `a`'s, both at
    * `o` (Chan et al.'s pairwise formulas). */
  def momentsMerge(a: Array[Double], b: Array[Double], o: Int): Unit = {
    val n1 = a(o); val n2 = b(o)
    val (avg1, avg2) = (a(o + 1), b(o + 1))
    val (m2a, m2b) = (a(o + 2), b(o + 2))
    val (m3a, m3b) = (a(o + 3), b(o + 3))
    val newN = n1 + n2
    val delta = avg2 - avg1
    val deltaN = if (newN == 0.0) 0.0 else delta / newN
    a(o) = newN
    a(o + 1) = avg1 + deltaN * n2
    a(o + 2) = m2a + m2b + delta * deltaN * n1 * n2
    a(o + 3) = m3a + m3b + deltaN * deltaN * delta * n1 * n2 * (n1 - n2) +
      3.0 * deltaN * (n1 * m2b - n2 * m2a)
    a(o + 4) = a(o + 4) + b(o + 4) +
      deltaN * deltaN * deltaN * delta * n1 * n2 * (n1 * n1 - n1 * n2 + n2 * n2) +
      6.0 * deltaN * deltaN * (n1 * n1 * m2b + n2 * n2 * m2a) +
      4.0 * deltaN * (n1 * m3b - n2 * m3a)
  }

  /** `VariancePop`: null when n == 0. */
  def varPop(d: Array[Double], o: Int): Any =
    if (d(o) == 0.0) null else d(o + 2) / d(o)
  /** `Skewness`: null when n == 0 or m2 == 0. */
  def skewness(d: Array[Double], o: Int): Any =
    if (d(o) == 0.0 || d(o + 2) == 0.0) null
    else math.sqrt(d(o)) * d(o + 3) / math.sqrt(d(o + 2) * d(o + 2) * d(o + 2))
  /** `Kurtosis`: null when n == 0 or m2 == 0. */
  def kurtosis(d: Array[Double], o: Int): Any =
    if (d(o) == 0.0 || d(o + 2) == 0.0) null
    else d(o) * d(o + 4) / (d(o + 2) * d(o + 2)) - 3.0

  /** `Average`'s `sum / cast(count as double)`: null when count == 0. */
  def mean(sum: Double, count: Long): Any =
    if (count == 0) null else sum / count.toDouble

  /** `try_divide(cast(matches as double), count)`: null when count == 0. */
  def ratio(matches: Long, count: Long): Any =
    if (count == 0) null else matches.toDouble / count.toDouble

  def resultType(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) =>
      StructField(n, t, nullable = t != LongType) })
}

import StatArith._

/** Numeric column statistics over the column cast to double:
  * `struct<n, nulls, min, max, sum, mean, varp, skew, kurt, zeros, negs>`
  * — `count`, null count, `min`, `max`, `sum`, `avg`, `var_pop`,
  * `skewness`, `kurtosis`, and the counts of `x = 0` and `x < 0`. */
case class NumericStatsAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends StatBufAggregate with UnaryLike[Expression] {

  // doubles: min, max, sum, avg sum, moments (n, avg, m2, m3, m4)
  // longs: n, nulls, zeros, negs
  protected def doubleSlots: Int = 9
  protected def longSlots: Int = 4

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"NumericStatsAggregate expects double, got ${child.dataType.simpleString}")
  override def dataType: DataType = NumericStatsAggregate.ResultType

  override def update(b: StatBuf, input: InternalRow): StatBuf = {
    val v = child.eval(input)
    if (v == null) b.l(1) += 1
    else {
      val x = v.asInstanceOf[Double]
      val n = b.l(0)
      least(b.d, 0, n, x); greatest(b.d, 1, n, x); sum(b.d, 2, n, x)
      b.d(3) = b.d(3) + x
      momentsUpdate(b.d, 4, x)
      b.l(0) = n + 1
      if (x == 0.0) b.l(2) += 1
      if (x < 0.0) b.l(3) += 1
    }
    b
  }

  override def merge(a: StatBuf, b: StatBuf): StatBuf = {
    mergeExtremes(a.d, a.l(0), b.d, b.l(0), 0)
    if (b.l(0) > 0) sum(a.d, 2, a.l(0), b.d(2))
    a.d(3) = a.d(3) + b.d(3)
    momentsMerge(a.d, b.d, 4)
    addCounts(a, b, 4)
    a
  }

  override def eval(b: StatBuf): Any = {
    val n = b.l(0)
    InternalRow(n, b.l(1), orNull(n, b.d(0)), orNull(n, b.d(1)), orNull(n, b.d(2)),
      mean(b.d(3), n), varPop(b.d, 4), skewness(b.d, 4), kurtosis(b.d, 4),
      b.l(2), b.l(3))
  }

  override def withNewMutableAggBufferOffset(o: Int): NumericStatsAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): NumericStatsAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): NumericStatsAggregate =
    copy(child = c)
}

object NumericStatsAggregate {
  val ResultType: StructType = resultType(
    "n" -> LongType, "nulls" -> LongType, "min" -> DoubleType,
    "max" -> DoubleType, "sum" -> DoubleType, "mean" -> DoubleType,
    "varp" -> DoubleType, "skew" -> DoubleType, "kurt" -> DoubleType,
    "zeros" -> LongType, "negs" -> LongType)

  def apply(x: Column): Column = GraftSessions.column(NumericStatsAggregate(
    GraftSessions.expression(x.cast(DoubleType))).toAggregateExpression())
}

/** String column statistics:
  * `struct<n, nulls, minlen, maxlen, meanlen, varlen, intr, floatr, dtr>`
  * — `count`, null count, `min`/`max`/`avg`/`var_pop` of the code-point
  * length, and the share of non-null values the int, float and datetime
  * regexes find a match in (`rlike`). The shares count non-null values
  * only, as the reference's type inference does
  * (int_column_profile.py:106-115), so one null cannot keep a column
  * from reaching 1.0; an all-null column yields null. */
case class StringStatsAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends StatBufAggregate with UnaryLike[Expression] {

  // doubles: length min, max, avg sum, moments (n, avg, m2, m3, m4)
  // longs: n, nulls, int, float and datetime matches
  protected def doubleSlots: Int = 8
  protected def longSlots: Int = 5

  @transient private lazy val patterns =
    Array(IntRegex, FloatRegex, DatetimeRegex).map(Pattern.compile)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"StringStatsAggregate expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringStatsAggregate.ResultType

  override def update(b: StatBuf, input: InternalRow): StatBuf = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v == null) b.l(1) += 1
    else {
      val len = StringStatsAggregate.numChars(v).toDouble
      val n = b.l(0)
      least(b.d, 0, n, len); greatest(b.d, 1, n, len)
      b.d(2) = b.d(2) + len
      momentsUpdate(b.d, 3, len)
      b.l(0) = n + 1
      if (StringStatsAggregate.mayMatchTypes(v)) {
        val s = v.toString
        var i = 0
        while (i < 3) {
          if (patterns(i).matcher(s).find(0)) b.l(2 + i) += 1
          i += 1
        }
      }
    }
    b
  }

  override def merge(a: StatBuf, b: StatBuf): StatBuf = {
    mergeExtremes(a.d, a.l(0), b.d, b.l(0), 0)
    a.d(2) = a.d(2) + b.d(2)
    momentsMerge(a.d, b.d, 3)
    addCounts(a, b, 5)
    a
  }

  override def eval(b: StatBuf): Any = {
    val n = b.l(0)
    InternalRow(n, b.l(1), orNull(n, b.d(0)), orNull(n, b.d(1)), mean(b.d(2), n),
      varPop(b.d, 3), ratio(b.l(2), n), ratio(b.l(3), n), ratio(b.l(4), n))
  }

  override def withNewMutableAggBufferOffset(o: Int): StringStatsAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): StringStatsAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): StringStatsAggregate =
    copy(child = c)
}

object StringStatsAggregate {
  val ResultType: StructType = resultType(
    "n" -> LongType, "nulls" -> LongType, "minlen" -> DoubleType,
    "maxlen" -> DoubleType, "meanlen" -> DoubleType, "varlen" -> DoubleType,
    "intr" -> DoubleType, "floatr" -> DoubleType, "dtr" -> DoubleType)

  def apply(x: Column): Column = GraftSessions.column(StringStatsAggregate(
    GraftSessions.expression(x)).toAggregateExpression())

  private val HighBits = 0x8080808080808080L

  /** `v.numChars()`, without the per-byte walk when every byte is ASCII
    * (then each byte is one character); read eight bytes at a time. Any
    * byte from 0x80 up defers to `numChars()`, which keeps Spark's count
    * of invalid UTF-8. */
  def numChars(v: UTF8String): Int = {
    val base = v.getBaseObject
    val off = v.getBaseOffset
    val n = v.numBytes
    var i = 0
    while (i + 8 <= n) {
      if ((Platform.getLong(base, off + i) & HighBits) != 0) return v.numChars()
      i += 8
    }
    while (i < n) {
      if (Platform.getByte(base, off + i) < 0) return v.numChars()
      i += 1
    }
    n
  }

  /** Whether the int, float or datetime regex can find a match in `v`.
    * Each begins `^\s*`, Java's `\s` being `[ \t\n\x0B\f\r]`, and
    * then needs a character of `[+\-.0-9]`. A value whose first byte
    * past that whitespace is anything else matches none of them: a byte
    * from 0x80 up decodes to a character outside ASCII, and an empty or
    * all-whitespace value has no such byte. */
  def mayMatchTypes(v: UTF8String): Boolean = {
    val n = v.numBytes
    var i = 0
    while (i < n) {
      val c = v.getByte(i)
      if (c == ' ' || (c >= '\t' && c <= '\r')) i += 1
      else return (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'
    }
    false
  }
}

/** Counts of any column: `struct<n, nulls>`; for a date or timestamp
  * column also its `min` and `max`, `struct<n, nulls, min, max>` in the
  * column's own type. */
case class ValueStatsAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends StatBufAggregate with UnaryLike[Expression] {

  @transient private lazy val extremes =
    ValueStatsAggregate.hasExtremes(child.dataType)

  // longs: n, nulls, min, max (dates and timestamps are int/long inside)
  protected def doubleSlots: Int = 0
  protected def longSlots: Int = 4

  override def dataType: DataType =
    if (extremes) resultType("n" -> LongType, "nulls" -> LongType,
      "min" -> child.dataType, "max" -> child.dataType)
    else resultType("n" -> LongType, "nulls" -> LongType)

  private def asLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case x: Long => x
  }

  override def update(b: StatBuf, input: InternalRow): StatBuf = {
    val v = child.eval(input)
    if (v == null) b.l(1) += 1
    else {
      if (extremes) {
        val x = asLong(v)
        if (b.l(0) == 0 || x < b.l(2)) b.l(2) = x
        if (b.l(0) == 0 || x > b.l(3)) b.l(3) = x
      }
      b.l(0) += 1
    }
    b
  }

  override def merge(a: StatBuf, b: StatBuf): StatBuf = {
    if (b.l(0) > 0) {
      if (a.l(0) == 0 || b.l(2) < a.l(2)) a.l(2) = b.l(2)
      if (a.l(0) == 0 || b.l(3) > a.l(3)) a.l(3) = b.l(3)
    }
    addCounts(a, b, 2)
    a
  }

  override def eval(b: StatBuf): Any =
    if (!extremes) InternalRow(b.l(0), b.l(1))
    else if (b.l(0) == 0) InternalRow(0L, b.l(1), null, null)
    else child.dataType match {
      case DateType => InternalRow(b.l(0), b.l(1), b.l(2).toInt, b.l(3).toInt)
      case _ => InternalRow(b.l(0), b.l(1), b.l(2), b.l(3))
    }

  override def withNewMutableAggBufferOffset(o: Int): ValueStatsAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ValueStatsAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): ValueStatsAggregate =
    copy(child = c)
}

object ValueStatsAggregate {
  private def hasExtremes(t: DataType): Boolean = t match {
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  def apply(x: Column): Column = GraftSessions.column(ValueStatsAggregate(
    GraftSessions.expression(x)).toAggregateExpression())
}

/** Table-level row counts over `children` (a frame's columns):
  * `struct<rows, rowsWithNull, rowsAllNull>` — `count(*)` and the counts
  * of rows with at least one and with only null cells. */
case class RowStatsAggregate(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends StatBufAggregate {

  protected def doubleSlots: Int = 0
  protected def longSlots: Int = 3

  override def dataType: DataType = resultType(
    "rows" -> LongType, "rowsWithNull" -> LongType, "rowsAllNull" -> LongType)

  override def update(b: StatBuf, input: InternalRow): StatBuf = {
    val nulls = children.count(_.eval(input) == null)
    b.l(0) += 1
    if (nulls > 0) b.l(1) += 1
    if (nulls == children.size) b.l(2) += 1
    b
  }

  override def merge(a: StatBuf, b: StatBuf): StatBuf = {
    addCounts(a, b, 3)
    a
  }

  override def eval(b: StatBuf): Any = InternalRow(b.l(0), b.l(1), b.l(2))

  override def withNewMutableAggBufferOffset(o: Int): RowStatsAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RowStatsAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): RowStatsAggregate = copy(children = c)
}

object RowStatsAggregate {
  def apply(xs: Seq[Column]): Column = GraftSessions.column(RowStatsAggregate(
    xs.map(GraftSessions.expression)).toAggregateExpression())
}

/** Pairwise co-moments of double columns, the correlation state of every
  * pair (i < j, in `combinations(2)` order): per pair the
  * pairwise-complete `n`, the `avg` of each side, their `var_pop` and
  * their `covar_pop`, each over the rows where both sides are non-null —
  * `array<struct<n, meanA, meanB, varA, varB, cov>>`. Per pair the buffer
  * holds n, the two means and M2s and the co-moment ck (the shared state
  * of `CentralMomentAgg` and `Covariance`, merged with Chan's formulas)
  * plus the two `Average` sums. */
case class CoMomentsAggregate(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends StatBufAggregate {

  private def k: Int = children.size
  private def pairs: Int = k * (k - 1) / 2
  // per pair: n, avgA, avgB, m2A, m2B, ck, sumA, sumB
  private val W = 8
  protected def doubleSlots: Int = W * pairs
  protected def longSlots: Int = 0

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("CoMomentsAggregate expects doubles")
  override def dataType: DataType =
    ArrayType(CoMomentsAggregate.PairType, containsNull = false)

  override def update(b: StatBuf, input: InternalRow): StatBuf = {
    val xs = new Array[Double](k)
    val present = new Array[Boolean](k)
    var i = 0
    while (i < k) {
      val v = children(i).eval(input)
      if (v != null) { xs(i) = v.asInstanceOf[Double]; present(i) = true }
      i += 1
    }
    val d = b.d
    var o = 0
    i = 0
    while (i < k) {
      var j = i + 1
      while (j < k) {
        if (present(i) && present(j)) {
          val x = xs(i); val y = xs(j)
          val n = d(o); val xAvg = d(o + 1); val yAvg = d(o + 2)
          val newN = n + 1.0
          val dx = x - xAvg
          val dxN = dx / newN
          val dy = y - yAvg
          val dyN = dy / newN
          val newYAvg = yAvg + dyN
          d(o) = newN
          d(o + 1) = xAvg + dxN
          d(o + 2) = newYAvg
          d(o + 3) = d(o + 3) + dx * (dx - dxN)
          d(o + 4) = d(o + 4) + dy * (dy - dyN)
          d(o + 5) = d(o + 5) + dx * (y - newYAvg)
          d(o + 6) = d(o + 6) + x
          d(o + 7) = d(o + 7) + y
        }
        o += W
        j += 1
      }
      i += 1
    }
    b
  }

  override def merge(a: StatBuf, b: StatBuf): StatBuf = {
    val (da, db) = (a.d, b.d)
    var o = 0
    while (o < da.length) {
      val n1 = da(o); val n2 = db(o)
      val newN = n1 + n2
      val dx = db(o + 1) - da(o + 1)
      val dxN = if (newN == 0.0) 0.0 else dx / newN
      val dy = db(o + 2) - da(o + 2)
      val dyN = if (newN == 0.0) 0.0 else dy / newN
      da(o) = newN
      da(o + 1) = da(o + 1) + dxN * n2
      da(o + 2) = da(o + 2) + dyN * n2
      da(o + 3) = da(o + 3) + db(o + 3) + dx * dxN * n1 * n2
      da(o + 4) = da(o + 4) + db(o + 4) + dy * dyN * n1 * n2
      da(o + 5) = da(o + 5) + db(o + 5) + dx * dyN * n1 * n2
      da(o + 6) = da(o + 6) + db(o + 6)
      da(o + 7) = da(o + 7) + db(o + 7)
      o += W
    }
    a
  }

  override def eval(b: StatBuf): Any = {
    val d = b.d
    new GenericArrayData(Array.tabulate[Any](pairs) { p =>
      val o = p * W
      val n = d(o)
      if (n == 0.0) InternalRow(0L, null, null, null, null, null)
      else InternalRow(n.toLong, mean(d(o + 6), n.toLong),
        mean(d(o + 7), n.toLong), d(o + 3) / n, d(o + 4) / n, d(o + 5) / n)
    })
  }

  override def withNewMutableAggBufferOffset(o: Int): CoMomentsAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CoMomentsAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CoMomentsAggregate = copy(children = c)
}

object CoMomentsAggregate {
  val PairType: StructType = resultType(
    "n" -> LongType, "meanA" -> DoubleType, "meanB" -> DoubleType,
    "varA" -> DoubleType, "varB" -> DoubleType, "cov" -> DoubleType)

  /** The co-moments of `xs`, each cast to double. */
  def apply(xs: Seq[Column]): Column = GraftSessions.column(CoMomentsAggregate(
    xs.map(x => GraftSessions.expression(x.cast(DoubleType)))).toAggregateExpression())
}
