package graft.functions

import java.util.BitSet
import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct-character vocabulary of a string column as one mergeable
  * aggregate (text_column_profile.py:134-157): the buffer is a set of
  * Unicode code points, so a task folds its rows into a bitset and the
  * exchange carries one small set per map task — never one row per
  * character, which is what the `explode(split(v, ""))` → `collect_set`
  * formulation shuffled and aggregated.
  *
  * Per value only the first `charsPerValue` code points are read (the
  * length cap that keeps one pathological multi-MB value from dominating
  * the pass). `eval` returns the `cap` smallest code points in
  * code-point order — the order `array_sort` gives single-character
  * strings, since UTF-8 byte order is code-point order. Supplementary
  * characters (emoji) count as ONE symbol, as Spark's `split(v, "")`
  * does. NULL values contribute nothing. The result is `array<string>`. */
case class CodePointVocabAggregate(
    child: Expression,
    charsPerValue: Int,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitSet] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"CodePointVocabAggregate expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BitSet = new BitSet()

  /** An ASCII byte is its own code point, so the value's leading ASCII
    * bytes (up to `charsPerValue`) are set without decoding; the first
    * byte from 0x80 up decodes the whole value and reads its first
    * `charsPerValue` code points again, which sets those bits twice. */
  override def update(b: BitSet, input: InternalRow): BitSet = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v != null) {
      val end = math.min(v.numBytes, charsPerValue)
      var i = 0
      while (i < end && v.getByte(i) >= 0) { b.set(v.getByte(i)); i += 1 }
      if (i < end) {
        val s = v.toString
        var j = 0; var n = 0
        while (j < s.length && n < charsPerValue) {
          val cp = s.codePointAt(j)
          b.set(cp)
          j += Character.charCount(cp)
          n += 1
        }
      }
    }
    b
  }

  override def merge(a: BitSet, b: BitSet): BitSet = { a.or(b); a }

  override def eval(b: BitSet): Any = {
    val out = Array.newBuilder[Any]
    var cp = b.nextSetBit(0); var n = 0
    while (cp >= 0 && n < cap) {
      out += UTF8String.fromString(new String(Character.toChars(cp)))
      cp = b.nextSetBit(cp + 1)
      n += 1
    }
    new GenericArrayData(out.result())
  }

  /** Layout: the bitset's words, as longs. */
  override def serialize(b: BitSet): Array[Byte] = {
    val words = b.toLongArray
    val bb = java.nio.ByteBuffer.allocate(8 * words.length)
    bb.asLongBuffer().put(words)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BitSet = {
    val words = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(words)
    BitSet.valueOf(words)
  }

  override def withNewMutableAggBufferOffset(o: Int): CodePointVocabAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CodePointVocabAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CodePointVocabAggregate =
    copy(child = newChild)
}

object CodePointVocabAggregate {
  /** The code-point vocabulary of string column `x`: the first
    * `charsPerValue` code points of each value, at most `cap` symbols. */
  def apply(x: Column, charsPerValue: Int, cap: Int): Column =
    GraftSessions.column(CodePointVocabAggregate(
      GraftSessions.expression(x.cast(StringType)), charsPerValue, cap)
      .toAggregateExpression())
}
