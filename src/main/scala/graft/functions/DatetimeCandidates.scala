package graft.functions

import java.text.ParsePosition
import java.time.{DayOfWeek, LocalDate, LocalTime, Month, ZoneId, ZonedDateTime}
import java.time.format.{DateTimeFormatter, TextStyle}
import java.util.Locale
import org.apache.datasketches.hll.HllSketch
import org.apache.spark.sql.{Column, GraftSessions, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{HllSketchAgg, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{DateTimeFormatterHelper, DateTimeUtils, GenericArrayData,
  Iso8601TimestampFormatter, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** The parsed extremes of a string column under every candidate
  * datetime format at once, so that they can be read for whichever
  * formats the head sample later discovers (the profiler's pass 7, folded
  * into pass 1).
  *
  * For a non-null value x, P(x) is the set of [[DatetimeFormats.formats]]
  * f for which `try_to_timestamp(x, f)` is non-null, parsed with the same
  * Spark formatter in the session time zone. The buffer maps each distinct
  * P to, per f in P, the minimum and maximum parsed microseconds and a
  * DataSketches HLL of the values' epoch days (`unix_date(to_date(·))`),
  * fed and merged exactly as `hll_sketch_agg` at `lgK` feeds and merges
  * its own sketch. A format is only attempted when its [[Shape]] admits
  * the value, a check no value that parses can fail.
  *
  * Given the discovered formats D, [[DatetimeCandidatesAggregate.resolve]]
  * takes for each P that meets D the first format w of D in P — the arm
  * `coalesce(D.map(try_to_timestamp(x, _)))` picks for every value with
  * that P — and unions the (P, w) entries: the min, max and distinct-day
  * estimate of that coalesce. The estimate is the same sketch whenever
  * one P meets D, and whenever the union of the sketches stays in their
  * exact (coupon) modes; past roughly 2^(lgK-3) distinct days, values of
  * several P feeding one column make the union an out-of-order sketch,
  * whose estimate may differ in the last digits from the in-order sketch
  * a single scan fed.
  *
  * The result is `array<struct<mask, format, min, max, days>>`: the
  * P bitmask (bit i for format i), the format index, the extremes in
  * microseconds and the day sketch, sorted by mask and format. */
case class DatetimeCandidatesAggregate(
    child: Expression,
    timeZoneId: String,
    lgK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DatetimeCandidatesAggregate.Buf]
    with UnaryLike[Expression] {

  import DatetimeCandidatesAggregate.{Buf, Entry}

  @transient private lazy val zone: ZoneId = DateTimeUtils.getZoneId(timeZoneId)
  @transient private lazy val parsers = DatetimeCandidates.parsers(zone)
  @transient private lazy val micros = new Array[Long](parsers.length)
  /** `hll_sketch_agg` itself, for its buffer, merge and byte layout. */
  @transient private lazy val hll = DatetimeCandidatesAggregate.hllAgg(lgK)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"DatetimeCandidatesAggregate expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = DatetimeCandidatesAggregate.ResultType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Buf = mutable.HashMap.empty

  override def update(b: Buf, input: InternalRow): Buf = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v != null) {
      val mask = DatetimeCandidates.parseAll(v, parsers, micros)
      if (mask != 0) {
        val e = b.getOrElseUpdate(mask, new Entry(parsers.length))
        var m = mask
        while (m != 0) {
          val f = Integer.numberOfTrailingZeros(m)
          val us = micros(f)
          if (e.days(f) == null) {
            e.min(f) = us; e.max(f) = us
            e.days(f) = hll.createAggregationBuffer()
          } else {
            e.min(f) = math.min(e.min(f), us); e.max(f) = math.max(e.max(f), us)
          }
          e.days(f).update(DateTimeUtils.microsToDays(us, zone).toLong)
          m &= m - 1
        }
      }
    }
    b
  }

  /** Entry by entry; an entry new to `a` is merged into an empty sketch,
    * as `hll_sketch_agg`'s final buffer starts empty. */
  override def merge(a: Buf, b: Buf): Buf = {
    b.foreachEntry { (mask, eb) =>
      a.get(mask) match {
        case Some(ea) =>
          forEachFormat(mask) { f =>
            ea.min(f) = math.min(ea.min(f), eb.min(f))
            ea.max(f) = math.max(ea.max(f), eb.max(f))
            ea.days(f) = hll.merge(ea.days(f), eb.days(f))
          }
        case None =>
          forEachFormat(mask) { f =>
            eb.days(f) = hll.merge(hll.createAggregationBuffer(), eb.days(f))
          }
          a.update(mask, eb)
      }
    }
    a
  }

  private def forEachFormat(mask: Int)(f: Int => Unit): Unit = {
    var m = mask
    while (m != 0) { f(Integer.numberOfTrailingZeros(m)); m &= m - 1 }
  }

  override def eval(b: Buf): Any = {
    val out = Array.newBuilder[Any]
    b.keys.toSeq.sorted.foreach { mask =>
      val e = b(mask)
      forEachFormat(mask) { f =>
        out += InternalRow(mask, f, e.min(f), e.max(f), hll.eval(e.days(f)))
      }
    }
    new GenericArrayData(out.result())
  }

  /** Layout: the entry count (int), then per entry its mask (int) and,
    * per format in the mask, min and max (longs) and the sketch bytes,
    * length-prefixed (int). */
  override def serialize(b: Buf): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val data = new java.io.DataOutputStream(out)
    data.writeInt(b.size)
    b.foreachEntry { (mask, e) =>
      data.writeInt(mask)
      forEachFormat(mask) { f =>
        data.writeLong(e.min(f)); data.writeLong(e.max(f))
        val sk = hll.serialize(e.days(f))
        data.writeInt(sk.length)
        data.write(sk)
      }
    }
    data.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b: Buf = mutable.HashMap.empty
    for (_ <- 0 until bb.getInt) {
      val mask = bb.getInt
      val e = new Entry(parsers.length)
      forEachFormat(mask) { f =>
        e.min(f) = bb.getLong; e.max(f) = bb.getLong
        val sk = new Array[Byte](bb.getInt)
        bb.get(sk)
        e.days(f) = hll.deserialize(sk)
      }
      b.update(mask, e)
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): DatetimeCandidatesAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DatetimeCandidatesAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): DatetimeCandidatesAggregate =
    copy(child = c)
}

object DatetimeCandidatesAggregate {

  /** Per format of one P: extremes and the day sketch (null for a format
    * not in P). */
  final class Entry(k: Int) {
    val min = new Array[Long](k)
    val max = new Array[Long](k)
    val days = new Array[HllSketch](k)
  }

  /** Entries by P bitmask. */
  type Buf = mutable.HashMap[Int, Entry]

  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("mask", IntegerType, nullable = false),
    StructField("format", IntegerType, nullable = false),
    StructField("min", LongType, nullable = false),
    StructField("max", LongType, nullable = false),
    StructField("days", BinaryType, nullable = false))), containsNull = false)

  private[functions] def hllAgg(lgK: Int): HllSketchAgg =
    new HllSketchAgg(Literal(0), Literal(lgK))

  /** The parsed extremes of string column `x` under every candidate
    * format, in session time zone `timeZoneId`, day sketches at `lgK`. */
  def apply(x: Column, timeZoneId: String, lgK: Int): Column =
    GraftSessions.column(DatetimeCandidatesAggregate(
      GraftSessions.expression(x), timeZoneId, lgK).toAggregateExpression())

  /** What `coalesce(discovered.map(try_to_timestamp(x, _)))` aggregates
    * to, from a collected result: `min` and `max` as
    * `date_format(·, "yyyy-MM-dd HH:mm:ss")` in `timeZoneId`, and the
    * `hll_sketch_estimate` of the day sketch; None when no value parses.
    * `discovered` holds indices into [[DatetimeFormats.formats]]. */
  def resolve(result: scala.collection.Seq[Row], discovered: Seq[Int],
      timeZoneId: String, lgK: Int): Option[(String, String, Long)] = {
    val d = discovered.foldLeft(0)((m, i) => m | (1 << i))
    val picked = result.filter { r =>
      val hit = r.getInt(0) & d
      hit != 0 && Integer.numberOfTrailingZeros(hit) == r.getInt(1)
    }
    if (picked.isEmpty) None
    else {
      val hll = hllAgg(lgK)
      val days = picked.map(r => hll.deserialize(r.getAs[Array[Byte]](4)))
        .reduce(hll.merge)
      def fmt(us: Long): String = DateFormatClass(Literal(us, TimestampType),
        Literal("yyyy-MM-dd HH:mm:ss"), Some(timeZoneId)).eval(null).toString
      Some((fmt(picked.map(_.getLong(2)).min), fmt(picked.map(_.getLong(3)).max),
        math.round(days.getEstimate)))
    }
  }
}

/** The parse of one value under every candidate format, each attempt
  * behind a [[Shape]] check. */
private[graft] object DatetimeCandidates {

  /** What a format's text can look like: its length bounds, the
    * character class at each position its leading fixed-width tokens
    * pin from the start, and likewise its trailing ones from the end.
    * Every bound follows from how Spark's strict, case-insensitive
    * `java.time` parser reads the pattern (`yyyy` is read as `uuuu`):
    *  - a two-letter numeric field (`MM`, `dd`, `HH`, `mm`, `ss`, `yy`)
    *    is exactly two ASCII digits;
    *  - `yyyy` is 4 to 19 digits, optionally signed;
    *  - `MMM`, `MMMM` and `EEE` are one of the locale's month or day
    *    names, matched character by character, so each character is a
    *    letter and the length is a name's length;
    *  - a literal matches itself (a letter literal also in other case).
    * So a string outside the bounds, or with a wrong class at a pinned
    * position, makes `try_to_timestamp` null. Classes: [[Digit]],
    * [[Letter]], [[SignedDigit]], else the literal character. */
  final case class Shape(minLen: Int, maxLen: Int, prefix: Array[Int], suffix: Array[Int]) {
    def admits(s: String): Boolean = {
      val n = s.length
      if (n < minLen || n > maxLen) return false
      var i = 0
      while (i < prefix.length) {
        if (!fits(prefix(i), s.charAt(i))) return false
        i += 1
      }
      val o = n - suffix.length
      i = 0
      while (i < suffix.length) {
        if (!fits(suffix(i), s.charAt(o + i))) return false
        i += 1
      }
      true
    }
  }

  val Digit: Int = -1
  val Letter: Int = -2
  /** The first character of a signed number: a digit, `+` or `-`. */
  val SignedDigit: Int = -3

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  private def fits(cls: Int, c: Char): Boolean = cls match {
    case Digit => isDigit(c)
    case Letter => Character.isLetter(c)
    case SignedDigit => isDigit(c) || c == '+' || c == '-'
    case lit => c == lit
  }

  /** One pattern token: its length bounds, and the class of each of its
    * characters when its length is fixed. */
  private final case class Tok(min: Int, max: Int, classes: Seq[Int])

  /** Month and day names as the parser reads them (Spark parses in
    * `Locale.US`), each style in both its format and standalone forms. */
  private def names(short: Boolean, months: Boolean): Seq[String] = {
    val styles = if (short) Seq(TextStyle.SHORT, TextStyle.SHORT_STANDALONE)
      else Seq(TextStyle.FULL, TextStyle.FULL_STANDALONE)
    val all = if (months) Month.values.toSeq.flatMap(m => styles.map(m.getDisplayName(_, Locale.US)))
      else DayOfWeek.values.toSeq.flatMap(d => styles.map(d.getDisplayName(_, Locale.US)))
    all.distinct
  }

  private def textTok(ns: Seq[String]): Tok = {
    require(ns.forall(n => n.nonEmpty && n.forall(Character.isLetter)),
      s"names with a non-letter character: $ns")
    val (lo, hi) = (ns.map(_.length).min, ns.map(_.length).max)
    Tok(lo, hi, Seq.fill(lo)(Letter))
  }

  private def tokens(pattern: String): Seq[Tok] = {
    val out = Seq.newBuilder[Tok]
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '\'') {
        val end = pattern.indexOf('\'', i + 1)
        require(end > i + 1, s"unsupported quote in $pattern")
        pattern.substring(i + 1, end).foreach(q =>
          out += Tok(1, 1, Seq(if (Character.isLetter(q)) Letter else q.toInt)))
        i = end + 1
      } else if (Character.isLetter(c)) {
        var j = i
        while (j < pattern.length && pattern.charAt(j) == c) j += 1
        out += ((c, j - i) match {
          case ('y', 4) => Tok(4, 20, SignedDigit +: Seq.fill(3)(Digit))
          case ('y' | 'M' | 'd' | 'H' | 'm' | 's', 2) => Tok(2, 2, Seq(Digit, Digit))
          case ('M', 3) => textTok(names(short = true, months = true))
          case ('M', 4) => textTok(names(short = false, months = true))
          case ('E', 3) => textTok(names(short = true, months = false))
          case (l, k) => throw new IllegalArgumentException(
            s"no shape for `${l.toString * k}` in $pattern")
        })
        i = j
      } else {
        out += Tok(1, 1, Seq(c.toInt))
        i += 1
      }
    }
    out.result()
  }

  def shapeOf(pattern: String): Shape = {
    val toks = tokens(pattern)
    def fixed(t: Tok) = t.min == t.max
    // a variable-width token pins only its own first character
    val lead = toks.takeWhile(fixed)
    val prefix = lead.flatMap(_.classes) ++
      toks.drop(lead.size).headOption.map(_.classes.head)
    val suffix =
      if (lead.size == toks.size) Seq.empty
      else toks.reverse.takeWhile(fixed).reverse.flatMap(_.classes)
    Shape(toks.map(_.min).sum, toks.map(_.max).sum, prefix.toArray, suffix.toArray)
  }

  /** `try_to_timestamp(·, fmt)` for one candidate format, in `zone`. */
  final class Parser(val fmt: DatetimeFormats.Fmt, zone: ZoneId) {
    val shape: Shape = shapeOf(fmt.java)
    /** Spark's parsing formatter, or null for a pattern it rejects for
      * parsing (`EEE`: day-of-week names only format), under which
      * `try_to_timestamp` fails and no value parses. */
    private val formatter: TimestampFormatter =
      try TimestampFormatter(fmt.java, zone, LegacyDateFormats.SIMPLE_DATE_FORMAT,
        isParsing = true, forTimestampNTZ = false)
      catch { case scala.util.control.NonFatal(_) => null }
    /** The `java.time` formatter behind [[formatter]] under the default
      * parser policy: a string it cannot tokenize to the end makes
      * `formatter.parse` throw, so it is rejected without the throw. */
    private val tokenizer: DateTimeFormatter = formatter match {
      case _: Iso8601TimestampFormatter
          if SQLConf.get.legacyTimeParserPolicy == LegacyBehaviorPolicy.CORRECTED =>
        Tokenizers.of(fmt.java)
      case _ => null
    }

    /** The fixed-width form of the pattern, for the [[tokenizer]]'s
      * formatter only; null when it has none. */
    private val layout: Layout = if (tokenizer == null) null else Layout.of(fmt.java)

    /** The microseconds `s` parses to, or None (a null
      * `try_to_timestamp`, or its overflow error). */
    def parse(s: String): Option[Long] = {
      if (formatter == null || !shape.admits(s)) return None
      if (layout != null && layout.fits(s)) return layout.micros(s, zone)
      if (tokenizer != null) {
        val pos = new ParsePosition(0)
        if (tokenizer.parseUnresolved(s, pos) == null || pos.getIndex != s.length) return None
      }
      // the errors `try_to_timestamp` turns into null, and a year whose
      // microseconds overflow a long, on which it fails the query instead
      try Some(formatter.parse(s)) catch {
        case _: java.time.DateTimeException | _: java.text.ParseException |
            _: ArithmeticException => None
      }
    }
  }

  /** A pattern of the numeric fields `yyyy`, `MM`, `dd`, `HH`, `mm`,
    * `ss` and non-letter literals, as one fixed-width text: `slots(i)` is
    * the literal character at position i, or `-1 - f` for a digit of
    * field f (year, month, day, hour, minute, second); `start(f)` is 0
    * for a field of the pattern, else its default.
    *
    * A text of exactly that length, with an ASCII digit in every digit
    * slot and every literal in place, is read the way the tokenizer
    * reads it: a four-digit year (`yyyy` reads 4 to 19 digits, the
    * fields after it are fixed) and two digits per other field. The
    * strict resolver then accepts exactly the fields `LocalDate.of` and
    * `LocalTime.of` accept, and Spark builds the timestamp as
    * `ZonedDateTime.of(date, time, zone)` (`toZonedDateTime`), a missing
    * date as 1970-01-01 and a missing time field as 0. [[micros]] does
    * the same; any other text takes the tokenizer and formatter. */
  final class Layout(slots: Array[Int], start: Array[Int]) {
    def fits(s: String): Boolean = {
      if (s.length != slots.length) return false
      var i = 0
      while (i < slots.length) {
        val c = s.charAt(i)
        if (if (slots(i) < 0) !isDigit(c) else c != slots(i)) return false
        i += 1
      }
      true
    }

    /** The microseconds a text that [[fits]] parses to in `zone`, or
      * None for a field out of range. */
    def micros(s: String, zone: ZoneId): Option[Long] = {
      val v = start.clone()
      var i = 0
      while (i < slots.length) {
        if (slots(i) < 0) v(-1 - slots(i)) = v(-1 - slots(i)) * 10 + (s.charAt(i) - '0')
        i += 1
      }
      try Some(DateTimeUtils.instantToMicros(ZonedDateTime.of(
        LocalDate.of(v(0), v(1), v(2)), LocalTime.of(v(3), v(4), v(5)), zone).toInstant))
      catch { case _: java.time.DateTimeException => None }
    }
  }

  object Layout {
    private val Fields = Seq("yyyy", "MM", "dd", "HH", "mm", "ss")

    /** The layout of `pattern`, or null when it holds anything else, a
      * field twice, part of a date, or a time field without the ones
      * before it. */
    def of(pattern: String): Layout = {
      val slots = Array.newBuilder[Int]
      var used = Set.empty[Int]
      var i = 0
      while (i < pattern.length) {
        val c = pattern.charAt(i)
        if (Character.isLetter(c)) {
          var j = i
          while (j < pattern.length && pattern.charAt(j) == c) j += 1
          val f = Fields.indexOf(pattern.substring(i, j))
          if (f < 0 || used(f)) return null
          used += f
          slots ++= Seq.fill(j - i)(-1 - f)
          i = j
        } else if (c == '\'') return null
        else { slots += c.toInt; i += 1 }
      }
      val date = used.filter(_ < 3)
      val time = used.filter(_ >= 3)
      if (date.nonEmpty && date.size < 3 || time != (3 until 3 + time.size).toSet) null
      else new Layout(slots.result(),
        Array(1970, 1, 1, 0, 0, 0).zipWithIndex.map { case (d, f) => if (used(f)) 0 else d })
    }
  }

  /** The `java.time` formatter an [[Iso8601TimestampFormatter]] parses
    * a pattern with: the helper's cached one, in the same locale. */
  private object Tokenizers extends DateTimeFormatterHelper {
    def of(pattern: String): DateTimeFormatter =
      getOrCreateFormatter(pattern, TimestampFormatter.defaultLocale, isParsing = true)
  }

  def parsers(zone: ZoneId): Array[Parser] =
    DatetimeFormats.formats.map(new Parser(_, zone)).toArray

  /** Shortest and longest text any format admits. */
  private lazy val (minLen, maxLen) = {
    val shapes = DatetimeFormats.formats.map(f => shapeOf(f.java))
    (shapes.map(_.minLen).min, shapes.map(_.maxLen).max)
  }

  /** P(v) as a bitmask over `parsers`, each parsed value in `out`. A
    * UTF-16 length is at most the UTF-8 byte count, at least a third of
    * it and at least the code point count, and every format holds a
    * numeric field, so a value outside the length bounds or without an
    * ASCII digit (one byte in UTF-8) parses under none; those are
    * rejected before the value is decoded. */
  def parseAll(v: UTF8String, parsers: Array[Parser], out: Array[Long]): Int = {
    val bytes = v.numBytes
    if (bytes < minLen || bytes > 3 * maxLen) return 0
    if (bytes > maxLen && v.numChars > maxLen) return 0
    var d = 0
    while (d < bytes && !isDigit(v.getByte(d).toChar)) d += 1
    if (d == bytes) return 0
    val s = v.toString
    if (s.length > maxLen) return 0
    var mask = 0
    var i = 0
    while (i < parsers.length) {
      parsers(i).parse(s) match {
        case Some(us) => out(i) = us; mask |= 1 << i
        case None =>
      }
      i += 1
    }
    mask
  }
}
