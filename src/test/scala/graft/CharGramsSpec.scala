package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CharGrams

/** `graft_chargrams` must equal the `transform(sequence, substr)` chain
  * it replaced — including multi-byte codepoints, where the byte-offset
  * slicing has to land exactly on the substr chain's codepoint
  * addressing. */
class CharGramsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("equals the substr chain on ascii, unicode, and edge lengths") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // codepoint-safe alphabet (indexing a String would split the
    // surrogate-pair emoji into invalid lone surrogates)
    val alphabet = Seq("a", "b", "1", " ", "-", "δ", "π", "😀", "é", "ß")
    val texts = (0 until 400).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
    } ++ Seq("", "a", "ab", "abc", "δπ😀", "😀😀😀😀", "héllo wörld")
    for (n <- Seq(1, 2, 3, 5)) {
      val out = texts.toDF("s").select(
        CharGrams(col("s"), n).as("fast"),
        when(length(col("s")) >= n,
          transform(sequence(lit(1), length(col("s")) - lit(n - 1)),
            i => col("s").substr(i, lit(n))))
          .otherwise(array().cast("array<string>")).as("ref")).collect()
      out.foreach(r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n $r"))
    }
  }

  test("null in, null out; bad arity is an analysis error") {
    import spark.implicits._
    val out = Seq(Option.empty[String]).toDF("s")
      .select(CharGrams(col("s"), 3).as("g")).collect()
    assert(out(0).isNullAt(0))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_chargrams('abc')").collect()
    }
    assert(e.getMessage.contains("graft_chargrams"))
  }
}
