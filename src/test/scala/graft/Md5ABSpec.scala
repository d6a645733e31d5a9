package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Md5AB

/** Md5AB must be bit-identical to the conv(substring(md5(...)))
  * built-in chain it replaces — the DuckDB oracle computes that chain. */
class Md5ABSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("halves match the conv/substring/md5 built-in chain") {
    import spark.implicits._
    val samples = Seq(
      "", "a", "spark", "hash join", "exactly5", "ünïcödé ✓ 漢字",
      "0123456789abcdef0123456789abcdef", "\t\n spaces ",
      (0 until 500).map(i => ('a' + i % 26).toChar).mkString)
    val df = samples.toDF("s").select(
      col("s"),
      Md5AB(col("s")).getItem(0).as("fast_a"),
      Md5AB(col("s")).getItem(1).as("fast_b"),
      conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("ref_a"),
      conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long").as("ref_b"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(3), s"hi half for '${r.getString(0)}'")
      assert(r.getLong(2) == r.getLong(4), s"lo half for '${r.getString(0)}'")
    }
  }

  test("null input yields null, not a crash") {
    import spark.implicits._
    val out = Seq[Option[String]](Some("x"), None).toDF("s")
      .select(Md5AB(col("s")).as("ab")).collect()
    assert(out(0).getSeq[Long](0).length == 2)
    assert(out(1).isNullAt(0))
  }
}
