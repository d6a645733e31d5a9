package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DateShapeMask, DatetimeFormats}

/** graft_dateshape's bitmask must agree, bit by bit, with the 16 shape
  * regexes it compiles from (after the ordinal day-suffix strip) — the
  * regexes remain the single source of truth. */
class DateShapeMaskSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def regexMask(s: String): Int = {
    val stripped = s.replaceAll("([0-9])(st|nd|rd|th)", "$1")
    DatetimeFormats.formats.zipWithIndex.foldLeft(0) { case (m, (f, i)) =>
      if (stripped.matches(f.regex.substring(1, f.regex.length - 1))) m | (1 << i)
      else m
    }
  }

  private def exprMask(rows: Seq[String]): Seq[Int] = {
    import spark.implicits._
    rows.toDF("cell").select(DateShapeMask(col("cell")).as("m"))
      .collect().map(_.getInt(0)).toSeq
  }

  test("fixed corner cases") {
    val cases = Seq(
      "2024-01-02", "2024-01-02T10:11:12", "2024-01-02 10:11:12",
      "2024/01/02", "01/02/2024", "01/02/24", "01-02-2024",
      "Jan 02, 2024", "January 02, 2024", "02 Jan 2024", "20240102",
      "10:11:12", "2024-01-02 10:11", "01/02/2024 10:11",
      "Mon Jan 02 10:11:12 2024",
      "March 23rd, 2022", "23rd of March", "1st", "21st 22nd 23rd",
      "not a date", "", "2024-1-2", "Jan 2, 2024", "JAN 02, 2024",
      "0102024", "  2024-01-02", "2024-01-02 ")
    val got = exprMask(cases)
    cases.zip(got).foreach { case (c, g) =>
      assert(g == regexMask(c), s"'$c': got $g want ${regexMask(c)}")
    }
    // MM/dd/yyyy and dd/MM/yyyy share a shape: both bits fire together
    val slash = got(cases.indexOf("01/02/2024"))
    assert((slash & (1 << 4)) != 0 && (slash & (1 << 6)) != 0)
  }

  test("property: random near-date strings agree with the regexes") {
    val rnd = new scala.util.Random(17)
    val frag = Array("2024", "01", "1", "Jan", "January", "Mon", "-", "/",
      " ", ":", ",", "T", "3rd", "th", "st", "99", "10:11:12", "x")
    val rows = (1 to 4000).map { _ =>
      (1 to (1 + rnd.nextInt(6))).map(_ => frag(rnd.nextInt(frag.length)))
        .mkString
    }
    val got = exprMask(rows)
    rows.zip(got).foreach { case (c, g) =>
      assert(g == regexMask(c), s"'$c': got $g want ${regexMask(c)}")
    }
  }
}
