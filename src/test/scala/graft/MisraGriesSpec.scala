package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.MisraGriesAggregate

/** Property check of the Misra-Gries frequency-summary guarantee the
  * heavy-hitter candidate path relies on: after ANY partitioning of the
  * stream and ANY merge order, every value with true frequency
  * > n/(capacity+1) must hold a slot in the final map. Seeded random
  * cases keep runs deterministic. */
class MisraGriesSpec extends AnyFunSuite {

  /** The aggregate's buffer operations under the names the property
    * below is stated in. */
  private type Buf = scala.collection.mutable.HashMap[UTF8String, scala.runtime.LongRef]
  private final class Mg(capacity: Int) {
    val agg =
      MisraGriesAggregate(BoundReference(0, StringType, nullable = true), capacity)
    def zero = agg.createAggregationBuffer()
    def reduce(b: Buf, x: String) = agg.update(b,
      InternalRow(if (x == null) null else UTF8String.fromString(x)))
    def merge(a: Buf, b: Buf) = agg.merge(a, b)
    def finish(b: Buf): Map[String, Long] = {
      val m = agg.eval(b).asInstanceOf[MapData]
      m.keyArray().toSeq[UTF8String](StringType).map(_.toString)
        .zip(m.valueArray().toSeq[Long](LongType)).toMap
    }
  }

  test("guarantee holds under random partitioning and merge order") {
    val rnd = new Random(42)
    val agg = new Mg(capacity = 64)
    for (_ <- 0 until 50) {
      // zipf-ish stream: a few hot values over a long cold tail
      val hot = (0 until 5).flatMap(i =>
        Seq.fill(2000 / (i + 1))(s"hot$i"))
      val cold = (0 until 5000).map(i => s"cold${rnd.nextInt(100000)}")
      val stream = rnd.shuffle(hot ++ cold)
      val n = stream.size
      // random partitioning into 1..8 chunks
      val nChunks = 1 + rnd.nextInt(8)
      val chunks = stream.grouped(math.max(1, n / nChunks)).toSeq
      val partials = chunks.map(c => c.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(partials).reduce(agg.merge)
      val result = agg.finish(merged)
      assert(result.size <= 64)
      val exact = stream.groupBy(identity).view.mapValues(_.size).toMap
      val threshold = n.toDouble / 65
      exact.foreach { case (v, c) =>
        if (c > threshold)
          assert(result.contains(v),
            s"value $v with freq $c > $threshold missing from summary")
      }
    }
  }

  test("nulls are ignored and counts never exceed truth") {
    val agg = new Mg(capacity = 8)
    val m = Seq("a", null, "a", null, "b").foldLeft(agg.zero)(agg.reduce)
    val r = agg.finish(m)
    assert(r("a") == 2 && r("b") == 1)
    // MG counts are lower bounds on truth
    assert(r.values.forall(_ > 0))
  }
}
