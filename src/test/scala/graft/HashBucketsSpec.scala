package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HashBuckets

/** graft_hashbuckets must be value-identical to the composed chain it
  * fuses: bucket = conv(substring(md5(w),1,8),16,10) % nb over
  * filter(split(text,' '), x -> x != '') tokens. */
class HashBucketsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Nb = 32

  private def oldBucket(w: org.apache.spark.sql.Column) =
    conv(substring(md5(w), 1, 8), 16, 10).cast("long") % Nb

  test("property: counts and set equal the md5/conv chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vocab = Array("spark", "la", "中文", "x", "", "the", "naïve", "123",
      "a-b", "q".*(40))
    val rows = (1 to 250).map { _ =>
      (1 to rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    } :+ "" :+ "   " :+ "one"
    val df = rows.toDF("text")
    val tok = filter(split(col("text"), " "), x => x =!= "")
    // counts mode vs explode+count
    val gotCounts = df.select(
      HashBuckets(col("text"), Nb, asSet = false).as("bc")).collect()
      .map(_.getSeq[Int](0))
    val wantCounts = df.select(
      transform(sequence(lit(0), lit(Nb - 1)), b =>
        size(filter(tok, w => oldBucket(w) === b.cast("long")))).as("bc"))
      .collect().map(_.getSeq[Int](0))
    gotCounts.zip(wantCounts).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"counts row $i: '${rows(i)}'")
    }
    // set mode vs sort_array(array_distinct(transform(...)))
    val gotSet = df.select(
      HashBuckets(col("text"), Nb, asSet = true).as("bs")).collect()
      .map(_.getSeq[Long](0))
    val wantSet = df.select(
      sort_array(array_distinct(transform(tok, w => oldBucket(w)))).as("bs"))
      .collect().map(_.getSeq[Long](0))
    gotSet.zip(wantSet).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"set row $i: '${rows(i)}'")
    }
  }

  test("null text stays null") {
    import spark.implicits._
    val r = Seq(Option.empty[String]).toDF("text")
      .select(HashBuckets(col("text"), Nb, asSet = false).as("bc"))
      .collect()(0)
    assert(r.isNullAt(0))
  }
}
