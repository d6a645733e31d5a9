package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.LangScores

/** graft_langscores must equal the per-language relational formulation
  * it fuses: size(filter(split(text,' '), w -> w IN words)) per word
  * profile, and size(filter(..., w -> w rlike CJK)) for the empty
  * profile. */
class LangScoresSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val profiles = Seq(
    "en" -> Seq("the", "a", "and"),
    "es" -> Seq("la", "de", "y"),
    "fr" -> Seq("la", "les", "et"), // "la" shared with es (bitmask fan-out)
    "zh" -> Seq.empty)

  private def score(text: String): Seq[Int] = {
    import spark.implicits._
    Seq(Option(text)).toDF("text")
      .select(LangScores(col("text"), profiles).as("ls"))
      .collect()(0).getSeq[Int](0)
  }

  test("word counts, shared words, CJK tokens, boundaries") {
    assert(score("the cat and the dog") == Seq(3, 0, 0, 0))
    assert(score("la la de y et") == Seq(0, 4, 3, 0)) // la counts for BOTH
    assert(score("") == Seq(0, 0, 0, 0))
    assert(score("  the  ") == Seq(1, 0, 0, 0))
    assert(score("中文 text the 漢字") == Seq(1, 0, 0, 2))
    assert(score("mixed中文token") == Seq(0, 0, 0, 1))
    assert(score("naïve ümlaut") == Seq(0, 0, 0, 0)) // 2-byte seqs, no CJK
    assert(score("THE The") == Seq(0, 0, 0, 0)) // case-sensitive like IN
  }

  test("null text stays null") {
    import spark.implicits._
    val r = Seq(Option.empty[String]).toDF("text")
      .select(LangScores(col("text"), profiles).as("ls")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("property: equals the filter/isin + rlike formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Array("the", "a", "and", "la", "de", "y", "les", "et",
      "xy", "中文", "漢", "", "q")
    val rows = (1 to 300).map { _ =>
      (1 to rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    }
    val df = rows.toDF("text")
    val got = df.select(LangScores(col("text"), profiles).as("ls"))
      .collect().map(_.getSeq[Int](0))
    val tok = split(col("text"), " ")
    val want = df.select(profiles.map { case (lang, words) =>
      (if (words.isEmpty)
        size(filter(tok, w => w.rlike("[\\x{4e00}-\\x{9fff}]")))
      else size(filter(tok, w => w.isin(words: _*)))).as(lang)
    }: _*).collect().map(r => profiles.indices.map(r.getInt))
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"row $i: '${rows(i)}'")
    }
  }
}
