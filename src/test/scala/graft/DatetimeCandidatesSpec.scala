package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DatetimeCandidates, DatetimeCandidatesAggregate, DatetimeFormats}

/** The profiler's parsed datetime extremes ride pass 1 as a
  * [[DatetimeCandidatesAggregate]]. Its per-format parse must be
  * `try_to_timestamp` exactly, its shape prefilter must never reject a
  * value that parses, and the extremes it resolves for a set of
  * discovered formats must equal the aggregation the profiler ran as its
  * own pass before: `coalesce` of the formats' parses, then `min`, `max`
  * and the distinct-day sketch. */
class DatetimeCandidatesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val formats = DatetimeFormats.formats
  private val lgK = graft.profiler.ProfilerOptions().ndvLgK
  private def tz = spark.conf.get("spark.sql.session.timeZone")

  /** Formats Spark can parse with (`EEE` only formats, so
    * `try_to_timestamp` fails on it). */
  private lazy val usable: Seq[Int] = formats.indices.filter { i =>
    try {
      spark.range(1).select(try_to_timestamp(lit("x"), lit(formats(i).java))).collect()
      true
    } catch { case _: Exception => false }
  }

  /** Values that parse under some format, near misses and noise. */
  private def values(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    val fmts = formats.filter(f => !f.java.contains("EEE"))
      .map(f => java.time.format.DateTimeFormatter.ofPattern(f.java, java.util.Locale.US))
    def instant: java.time.LocalDateTime = java.time.LocalDateTime.of(
      1900 + r.nextInt(250), 1 + r.nextInt(12), 1 + r.nextInt(28),
      r.nextInt(24), r.nextInt(60), r.nextInt(60))
    def mutate(s: String): String = if (s.isEmpty) s else {
      val i = r.nextInt(s.length)
      r.nextInt(9) match {
        case 0 => s.substring(0, i) + s.substring(i + 1)
        case 1 => s.substring(0, i) + "0123456789/-: ,Tx".charAt(r.nextInt(17)) + s.substring(i)
        case 2 => s.substring(0, i) + "9" + s.substring(i + 1)
        case 3 => " " + s
        case 4 => s + " "
        case 5 => (if (r.nextBoolean()) "+" else "-") + s
        case 6 => s.toLowerCase
        case 7 => s.toUpperCase.replace('S', 'ſ').replace('I', 'ı')
        case _ => s + s.takeRight(2)
      }
    }
    val fixed = Seq("March 23rd, 2022", "Jan 05, 2021", "jan 05, 2021", "January 05, 2021",
      "Sep 31, 2021", "+12345-01-02", "12345-01-02", "-2021-03-04", "+2021-03-04",
      "03/04/2021", "13/04/2021", "04/13/2021", "03/04/21", "3/4/2021", "20210304",
      "120210304", "2021-02-29", "2021-02-28", "24:00:00", "23:59:59",
      "2021-03-04T05:06:07", "2021-03-04t05:06:07", "Mon Jan 05 10:00:00 2021",
      "Clerk#000000951", "25-989-741-2988", "1-URGENT", "", "2021", "0000-01-01",
      "99999999999999999999-01-01", "2021-3-4", "2021-03-04 ")
    fixed ++ (0 until n).map { _ =>
      val s = fmts(r.nextInt(fmts.size)).format(instant)
      r.nextInt(4) match {
        case 0 => s
        case 1 => mutate(s)
        case 2 => mutate(mutate(s))
        case _ => r.alphanumeric.take(r.nextInt(30)).mkString
      }
    }
  }

  test("each format parses as try_to_timestamp, behind a prefilter that never rejects a parse") {
    val vs = values(seed = 20261019L, n = 4000)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), 4),
      StructType(Seq(StructField("s", StringType))))
    val got = df.select(col("s") +: usable.map(i =>
      unix_micros(try_to_timestamp(col("s"), lit(formats(i).java))).as(s"f$i")): _*).collect()
    val parsers = DatetimeCandidates.parsers(DateTimeUtils.getZoneId(tz))
    var parsed = 0
    for (r <- got; (i, j) <- usable.zipWithIndex) {
      val s = r.getString(0)
      val want = if (r.isNullAt(j + 1)) None else Some(r.getLong(j + 1))
      if (want.isDefined) {
        parsed += 1
        assert(parsers(i).shape.admits(s), s"shape of ${formats(i).java} rejects `$s`")
      }
      assert(parsers(i).parse(s) == want, s"`$s` under ${formats(i).java}")
    }
    assert(parsed > 1000, s"only $parsed parses: the values miss the formats")
    // a year past the microsecond range, on which try_to_timestamp fails
    // the query, parses nothing
    assert(parsers.forall(_.parse("+999999999-12-31").isEmpty))
    // a format Spark cannot parse with parses nothing
    formats.indices.filterNot(usable.contains).foreach(i =>
      assert(vs.forall(parsers(i).parse(_).isEmpty), formats(i).java))
  }

  /** The aggregation the profiler ran as its own pass before. */
  private def oldExtremes(df: DataFrame, c: String, discovered: Seq[Int])
      : Option[(String, String, Long)] = {
    val parsed = coalesce(discovered.map(i => try_to_timestamp(col(c), lit(formats(i).java))): _*)
    val r = df.agg(
      date_format(min(parsed), "yyyy-MM-dd HH:mm:ss"),
      date_format(max(parsed), "yyyy-MM-dd HH:mm:ss"),
      hll_sketch_estimate(hll_sketch_agg(unix_date(to_date(parsed)), lit(lgK)))).head()
    Option(r.getString(0)).map(mn => (mn, r.getString(1), r.getLong(2)))
  }

  private def newExtremes(df: DataFrame, c: String, discovered: Seq[Int])
      : Option[(String, String, Long)] = {
    val res = df.agg(DatetimeCandidatesAggregate(col(c), tz, lgK)).head().getSeq[Row](0)
    DatetimeCandidatesAggregate.resolve(res, discovered, tz, lgK)
  }

  private def frameOf(vs: Seq[String], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), parts),
      StructType(Seq(StructField("s", StringType))))

  test("resolved extremes equal the coalesce aggregation for random discovered formats") {
    val r = new scala.util.Random(7L)
    val mixed = values(seed = 11L, n = 600) ++
      Seq.fill(50)(null) ++ Seq.fill(20)("lorem ipsum dolor sit amet " * 8)
    // one format set over thousands of days: the day sketches leave
    // their exact modes
    val days = (0 until 4000).map(d =>
      java.time.LocalDate.of(1990, 1, 1).plusDays(d * 3L).toString)
    for (parts <- Seq(1, 4); (vs, what) <- Seq(mixed -> "mixed", days -> "days")) {
      val df = frameOf(r.shuffle(vs), parts)
      val draws = Seq(usable, Seq(formats.indexWhere(_.java == "yyyy-MM-dd"))) ++
        Seq.fill(12)(usable.filter(_ => r.nextInt(3) == 0)).filter(_.nonEmpty)
      for (d <- draws)
        assert(newExtremes(df, "s", d) == oldExtremes(df, "s", d),
          s"$what, $parts partitions, D = ${d.map(formats(_).java)}")
    }
  }
}
