package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CollectSortedInts

/** `graft_collect_ints` must equal `sort_array(collect_set(...))` on any
  * grouped int stream — the primitive-buffer aggregate replaced exactly
  * that pair in the triangle adjacency builds. */
class CollectSortedIntsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("equals sort_array(collect_set) across groups, duplicates, skew") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 20000).map { _ =>
      (rnd.nextInt(50), rnd.nextInt(if (rnd.nextBoolean()) 10 else 100000)
        * (if (rnd.nextInt(10) == 0) -1 else 1))
    } ++ (0 until 500).map(i => (99, 7)) // one all-duplicate group
    val df = rows.toDF("k", "v").repartition(7)
    val out = df.groupBy("k").agg(
        CollectSortedInts(col("v")).as("fast"),
        sort_array(collect_set(col("v"))).as("ref"))
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2), r.get(0)))
  }

  test("null inputs are skipped, like collect_set") {
    import spark.implicits._
    val out = Seq((1, Some(3)), (1, None), (1, Some(1)), (2, None))
      .toDF("k", "v")
      .groupBy("k").agg(CollectSortedInts(col("v")).as("fast"))
      .orderBy("k").collect()
    assert(out(0).getSeq[Int](1) == Seq(1, 3))
    assert(out(1).getSeq[Int](1) == Seq())
  }
}
