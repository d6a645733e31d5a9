package graft.functions.reference

// Test-scope reference: the udaf(Aggregator) formulation that the native
// aggregate in graft.functions replaced, kept so NativeAggregatesSpec can
// compare the two on the same input.

import java.util.BitSet
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Distinct-character vocabulary of a string column as one mergeable
  * aggregate (text_column_profile.py:134-157): the buffer is a set of
  * Unicode code points, so a task folds its rows into a bitset and the
  * exchange carries one small set per map task — never one row per
  * character, which is what the `explode(split(v, ""))` → `collect_set`
  * formulation shuffled and aggregated.
  *
  * Per value only the first `charsPerValue` code points are read (the
  * length cap that keeps one pathological multi-MB value from dominating
  * the pass). `finish` returns the `cap` smallest code points in
  * code-point order — the order `array_sort` gives single-character
  * strings, since UTF-8 byte order is code-point order. Supplementary
  * characters (emoji) count as ONE symbol, as Spark's `split(v, "")`
  * does. NULL values contribute nothing. */
class CodePointVocabAgg(charsPerValue: Int, cap: Int)
    extends Aggregator[String, BitSet, Seq[String]] {

  override def zero: BitSet = new BitSet()

  override def reduce(b: BitSet, s: String): BitSet = {
    if (s != null) {
      var i = 0; var n = 0
      while (i < s.length && n < charsPerValue) {
        val cp = s.codePointAt(i)
        b.set(cp)
        i += Character.charCount(cp)
        n += 1
      }
    }
    b
  }

  override def merge(a: BitSet, b: BitSet): BitSet = { a.or(b); a }

  override def finish(b: BitSet): Seq[String] = {
    val out = Seq.newBuilder[String]
    var cp = b.nextSetBit(0); var n = 0
    while (cp >= 0 && n < cap) {
      out += new String(Character.toChars(cp))
      cp = b.nextSetBit(cp + 1)
      n += 1
    }
    out.result()
  }

  // java serialization, not kryo: BitSet's word count is a transient
  // field that only its own readObject restores
  override def bufferEncoder: Encoder[BitSet] = Encoders.javaSerialization[BitSet]
  override def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
}
