package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Bloom-filter set membership as session functions — Spark ships
  * `BloomFilterAggregate` / `BloomFilterMightContain` for its own
  * runtime join filtering but does not register them in the public
  * function registry; these wrappers expose that machinery for
  * explicit membership pruning (e.g. decontamination against a gram
  * set too large to broadcast as a hash join build side).
  *
  * `graft_bloom_agg(xxhash64(x), nItems, nBits)` aggregates to a binary
  * sketch; `graft_bloom_contains(sketch, xxhash64(x))` probes it
  * map-side. The sketch size is fixed by nBits regardless of input
  * cardinality — the membership side of the plan stays O(1) state and
  * zero shuffle, which is the point at 100 TB. Probes can false-positive
  * (rate set by nBits/nItems); for decontamination that errs on the
  * safe side (drops a clean training doc, never keeps a contaminated
  * one). */
object BloomMembership {
  val AggName = "graft_bloom_agg"
  val ProbeName = "graft_bloom_contains"

  def agg(hashed: Column, nItems: Long, nBits: Long): Column =
    GraftSessions.column(new BloomFilterAggregate(GraftSessions.expression(hashed),
      Literal(nItems), Literal(nBits)).toAggregateExpression())

  def contains(sketch: Column, hashed: Column): Column =
    GraftSessions.column(BloomFilterMightContain(GraftSessions.expression(sketch),
      GraftSessions.expression(hashed)))
}
