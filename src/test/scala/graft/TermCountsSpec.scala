package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TermCounts

/** graft_termcounts must be element-identical to the relational
  * formulation it fuses: tf(term) == count of exact whitespace tokens,
  * last slot == size(filter(split(text,' '), x -> x != '')). */
class TermCountsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val terms = Seq("spark", "hash", "join")

  private def counts(text: String): Seq[Int] = {
    import spark.implicits._
    Seq(Option(text)).toDF("text")
      .select(TermCounts(col("text"), terms).as("tc"))
      .collect()(0).getSeq[Int](0)
  }

  test("counts duplicates, boundaries, and the dl slot") {
    assert(counts("spark hash spark join x") == Seq(2, 1, 1, 5))
    assert(counts("spark") == Seq(1, 0, 0, 1))
    assert(counts("  spark   hash  ") == Seq(1, 1, 0, 2))
    assert(counts("") == Seq(0, 0, 0, 0))
    assert(counts("sparkx xspark spark2 SPARK") == Seq(0, 0, 0, 4))
    assert(counts("naïve spark ému") == Seq(1, 0, 0, 3))
  }

  test("null text stays null") {
    import spark.implicits._
    val r = Seq(Option.empty[String]).toDF("text")
      .select(TermCounts(col("text"), terms).as("tc")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("property: equals filter(split) tokenization on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "spark hash join x yz  ü"
    val rows = (1 to 300).map { _ =>
      (1 to rnd.nextInt(30)).map(_ =>
        alphabet.split(" ")(rnd.nextInt(7))).mkString(" ")
    }
    val df = rows.toDF("text")
    val got = df.select(TermCounts(col("text"), terms).as("tc")).collect()
      .map(_.getSeq[Int](0))
    val arr = filter(split(col("text"), " "), x => x =!= "")
    val want = df.select(
      (terms.map(t => size(filter(arr, x => x === t))) :+ size(arr)): _*)
      .collect().map(r => (0 to terms.size).map(r.getInt))
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"row $i: '${rows(i)}'")
    }
  }
}
