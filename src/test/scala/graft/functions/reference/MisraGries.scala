package graft.functions.reference

// Test-scope reference: the udaf(Aggregator) formulation that the native
// aggregate in graft.functions replaced, kept so NativeAggregatesSpec can
// compare the two on the same input.

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.mutable

/** Misra-Gries bounded frequency summary: a one-pass, mergeable candidate
  * set for heavy-hitter detection (the candidate source the CMS sketch
  * needs — the sketch estimates counts but cannot enumerate keys).
  *
  * Guarantee: any value with true frequency > n/(capacity+1) is present in
  * the final map, REGARDLESS of row order or partition layout — unlike a
  * head sample (`limit(k).distinct`), which misses heavy hitters that
  * first appear late in sorted/clustered data (the common layout for
  * ingested logs). State is ≤ `capacity` entries per partition; merge is
  * additive followed by the standard (capacity+1)-th-count subtraction,
  * so the shuffle is one bounded map per partition.
  *
  * Reference semantics: categorical_column_profile.py:478-521 keeps exact
  * counts until a stop condition; this summary is the scale-safe escape
  * hatch for over-cap columns (estimated counts come from the CMS, keys
  * from here).
  */
class MisraGriesAgg(capacity: Int)
    extends Aggregator[String, mutable.HashMap[String, Long], Map[String, Long]] {

  override def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty

  override def reduce(m: mutable.HashMap[String, Long], x: String)
      : mutable.HashMap[String, Long] = {
    if (x == null) return m
    m.get(x) match {
      case Some(c) => m.update(x, c + 1)
      case None if m.size < capacity => m.update(x, 1L)
      case None =>
        // decrement-all: each overflow retires capacity+1 count units, so
        // total work is O(n) amortized across the scan
        val dead = mutable.ArrayBuffer.empty[String]
        m.foreachEntry { (k, c) => if (c <= 1) dead += k else m.update(k, c - 1) }
        dead.foreach(m.remove)
    }
    m
  }

  override def merge(a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreachEntry { (k, c) => a.update(k, a.getOrElse(k, 0L) + c) }
    if (a.size > capacity) {
      // subtract the (capacity+1)-th largest count, drop non-positives —
      // preserves the n/(capacity+1) error bound under merge
      val thresh = a.values.toArray.sorted(Ordering[Long].reverse)(capacity)
      val dead = mutable.ArrayBuffer.empty[String]
      a.foreachEntry { (k, c) =>
        if (c - thresh <= 0) dead += k else a.update(k, c - thresh)
      }
      dead.foreach(a.remove)
    }
    a
  }

  override def finish(m: mutable.HashMap[String, Long]): Map[String, Long] =
    m.toMap

  override def bufferEncoder: Encoder[mutable.HashMap[String, Long]] =
    Encoders.kryo[mutable.HashMap[String, Long]]

  override def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
}
