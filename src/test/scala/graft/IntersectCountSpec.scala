package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.IntersectCount

/** graft_icount must equal size(array_intersect(...)) on every sorted
  * distinct-element input — the built-in pair is what the triangle
  * oracle's algebra assumes, the custom merge is what the hot path runs. */
class IntersectCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def cases(seed: Int): Seq[(Seq[Int], Seq[Int])] = {
    val rnd = new scala.util.Random(seed)
    (0 until 200).map { _ =>
      def arr = (0 until rnd.nextInt(40))
        .map(_ => rnd.nextInt(60)).distinct.sorted
      (arr, arr)
    } ++ Seq(
      (Nil, Nil), (Seq(1), Nil), (Nil, Seq(1)),
      (Seq(1, 2, 3), Seq(1, 2, 3)),
      (Seq(1, 3, 5), Seq(2, 4, 6)),
      (Seq(Int.MinValue, 0, Int.MaxValue), Seq(Int.MinValue, Int.MaxValue)))
  }

  test("int arrays: merge count equals size(array_intersect)") {
    import spark.implicits._
    val rows = cases(7).toDF("a", "b")
    val out = rows.select(
      IntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("long arrays: same semantics through the long codegen branch") {
    import spark.implicits._
    val rows = cases(11)
      .map { case (a, b) => (a.map(_.toLong), b.map(_.toLong)) }
      .toDF("a", "b")
    val out = rows.select(
      IntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("null input yields null; mixed element types are rejected") {
    import spark.implicits._
    val out = Seq((Some(Seq(1, 2)), Option.empty[Seq[Int]]))
      .toDF("a", "b")
      .select(IntersectCount(col("a"), col("b")).as("n")).collect()
    assert(out(0).isNullAt(0))
    val err = intercept[Exception] {
      Seq((Seq(1), Seq(1L))).toDF("a", "b")
        .select(IntersectCount(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_icount")
      || err.getMessage.toLowerCase.contains("data type"))
  }
}
