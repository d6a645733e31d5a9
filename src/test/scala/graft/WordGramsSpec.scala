package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GramRepetition, WordGrams}

/** The two codegen'd gram expressions must be property-equivalent to the
  * declarative formulations they replaced: `graft_wordgrams` to the
  * `transform(sequence, i -> array_join(slice(...)))` chain (both stride
  * modes, both input types, with and without fused dedup), and
  * `graft_gramstats` to the explode → groupBy(doc, gram) statistics. */
class WordGramsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def randomTexts(seed: Int, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("a", "bb", "ccc", "δδ", "e", "ff")
    (0 until n).map { _ =>
      val words = (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
      // random extra/leading/trailing spaces: the text path must
      // tokenize exactly like filter(split(text, ' '), x -> x != '')
      words.mkString(sep = if (rnd.nextBoolean()) " " else "  ") +
        (if (rnd.nextBoolean()) " " else "")
    } ++ Seq("", " ", "  ", "one", "one two", "δδ δδ δδ")
  }

  test("overlapping n-grams equal the transform/slice chain (array path)") {
    import spark.implicits._
    val df = randomTexts(3, 300).toDF("text")
      .select(filter(split(col("text"), " "), x => x =!= "").as("arr"))
    val out = df.select(
      WordGrams(col("arr"), 3, 1, dedup = false).as("fast"),
      when(size(col("arr")) >= 3, expr(
        "transform(sequence(0, size(arr)-3), i -> array_join(slice(arr, i+1, 3), ' '))"))
        .otherwise(array().cast("array<string>")).as("ref")).collect()
    out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
  }

  test("chunk mode (stride = n) equals the chunk transform chain") {
    import spark.implicits._
    val df = randomTexts(5, 300).toDF("text")
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 1)
    val out = df.select(
      WordGrams(col("ws"), 3, 3, dedup = false).as("fast"),
      expr("transform(sequence(0, cast(floor((size(ws)-1)/3.0) as int)), " +
        "i -> array_join(slice(ws, i*3 + 1, 3), ' '))").as("ref")).collect()
    out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
  }

  test("text path equals array path (byte-scan tokenizer)") {
    import spark.implicits._
    for (dedup <- Seq(false, true)) {
      val out = randomTexts(7, 300).toDF("text").select(
        WordGrams(col("text"), 5, 1, dedup).as("fromText"),
        WordGrams(filter(split(col("text"), " "), x => x =!= ""), 5, 1, dedup)
          .as("fromArr")).collect()
      out.foreach(r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"dedup=$dedup $r"))
    }
  }

  test("fused dedup equals array_distinct up to order") {
    import spark.implicits._
    val out = randomTexts(11, 300).toDF("text").select(
      WordGrams(col("text"), 2, 1, dedup = true).as("fast"),
      array_sort(array_distinct(
        WordGrams(col("text"), 2, 1, dedup = false))).as("ref")).collect()
    out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
  }

  test("graft_gramstats equals the explode/groupBy statistics") {
    import spark.implicits._
    val texts = randomTexts(13, 300) ++ Seq(
      "x x x x x", "a b a b a b", "w1 w2 w1 w2 w3")
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    val fast = df.select(col("id"), GramRepetition(
        filter(split(col("text"), " "), x => x =!= "")).as("st"))
      .select(col("id"), col("st")(0).as("n_g"), col("st")(1).as("m"),
        col("st")(2).as("d"))
    val ref = df
      .select(col("id"),
        explode_outer(WordGrams(col("text"), 2, 1, dedup = false)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(
        coalesce(sum(when(col("g").isNotNull, col("cnt"))), lit(0L)).as("n_g"),
        coalesce(max(when(col("g").isNotNull, col("cnt"))), lit(0L)).as("m"),
        coalesce(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)), lit(0L))
          .as("d"))
    val j = fast.as("f").join(ref.as("r"), Seq("id"))
      .select(col("f.n_g"), col("r.n_g"), col("f.m"), col("r.m"),
        col("f.d"), col("r.d")).collect()
    assert(j.length == texts.length)
    j.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"n_g: $r")
      // m is 0-vs-0 only when no grams exist; groupBy yields max cnt >= 1
      if (r.getLong(0) > 0) assert(r.getLong(2) == r.getLong(3), s"m: $r")
      assert(r.getLong(4) == r.getLong(5), s"d: $r")
    }
  }

  test("null input yields null; bad arity is an analysis error") {
    import spark.implicits._
    val out = Seq(Option.empty[String]).toDF("text")
      .select(WordGrams(col("text"), 2, 1, dedup = false).as("g")).collect()
    assert(out(0).isNullAt(0))
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_wordgrams(array('a','b'))").collect()
    }
    assert(e1.getMessage.contains("graft_wordgrams"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_gramstats(array('a'), 2)").collect()
    }
    assert(e2.getMessage.contains("graft_gramstats"))
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_icount(array(1))").collect()
    }
    assert(e3.getMessage.contains("graft_icount"))
  }
}
