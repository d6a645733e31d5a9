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

  /** Asserts that every usable format's parser, built in `session`'s
    * time zone, parses each of `vs` as `session`'s `try_to_timestamp`
    * does, and that its shape admits every value that parses. Returns
    * the number of parses. */
  private def assertParsesAsSpark(session: org.apache.spark.sql.SparkSession,
      vs: Seq[String]): Int = {
    val df = session.createDataFrame(session.sparkContext.parallelize(vs.map(Row(_)), 4),
      StructType(Seq(StructField("s", StringType))))
    val got = df.select(col("s") +: usable.map(i =>
      unix_micros(try_to_timestamp(col("s"), lit(formats(i).java))).as(s"f$i")): _*).collect()
    val zone = session.conf.get("spark.sql.session.timeZone")
    val parsers = DatetimeCandidates.parsers(DateTimeUtils.getZoneId(zone))
    var parsed = 0
    for (r <- got; (i, j) <- usable.zipWithIndex) {
      val s = r.getString(0)
      val want = if (r.isNullAt(j + 1)) None else Some(r.getLong(j + 1))
      if (want.isDefined) {
        parsed += 1
        assert(parsers(i).shape.admits(s), s"shape of ${formats(i).java} rejects `$s`")
      }
      assert(parsers(i).parse(s) == want, s"`$s` under ${formats(i).java} in $zone")
    }
    parsed
  }

  test("each format parses as try_to_timestamp, behind a prefilter that never rejects a parse") {
    val vs = values(seed = 20261019L, n = 4000)
    val parsed = assertParsesAsSpark(spark, vs)
    assert(parsed > 1000, s"only $parsed parses: the values miss the formats")
    val parsers = DatetimeCandidates.parsers(DateTimeUtils.getZoneId(tz))
    // a year past the microsecond range, on which try_to_timestamp fails
    // the query, parses nothing
    assert(parsers.forall(_.parse("+999999999-12-31").isEmpty))
    // a format Spark cannot parse with parses nothing
    formats.indices.filterNot(usable.contains).foreach(i =>
      assert(vs.forall(parsers(i).parse(_).isEmpty), formats(i).java))
  }

  /** The fixed-width formats: those [[DatetimeCandidates.Layout]] reads. */
  private lazy val fixedWidth: Seq[Int] =
    usable.filter(i => DatetimeCandidates.Layout.of(formats(i).java) != null)

  /** `pattern` with its fields filled in from (year, month, day, hour,
    * minute, second), each zero-padded to its width. */
  private def render(pattern: String, f: Seq[Int]): String =
    pattern.replace("yyyy", f"${f(0)}%04d").replace("MM", f"${f(1)}%02d")
      .replace("dd", f"${f(2)}%02d").replace("HH", f"${f(3)}%02d")
      .replace("mm", f"${f(4)}%02d").replace("ss", f"${f(5)}%02d")

  test("fixed-width formats parse out-of-range fields, DST gaps and overlaps as try_to_timestamp") {
    assert(fixedWidth.map(formats(_).java).toSet == Set("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd",
      "yyyy/MM/dd", "MM/dd/yyyy", "dd/MM/yyyy", "MM-dd-yyyy", "yyyyMMdd", "HH:mm:ss",
      "yyyy-MM-dd HH:mm", "MM/dd/yyyy HH:mm"))
    val fields = Seq(
      Seq(2021, 3, 14, 2, 30, 0), // Los Angeles DST gap
      Seq(2021, 11, 7, 1, 30, 0), // Los Angeles DST overlap
      Seq(2021, 13, 1, 0, 0, 0), Seq(2021, 0, 5, 0, 0, 0), Seq(2021, 2, 29, 0, 0, 0),
      Seq(2020, 2, 29, 0, 0, 0), Seq(2021, 4, 31, 0, 0, 0), Seq(2021, 1, 0, 0, 0, 0),
      Seq(2021, 1, 32, 0, 0, 0), Seq(2021, 1, 1, 24, 0, 0), Seq(2021, 1, 1, 23, 60, 0),
      Seq(2021, 1, 1, 23, 59, 60), Seq(2021, 1, 1, 99, 99, 99), Seq(0, 1, 1, 0, 0, 0),
      Seq(9999, 12, 31, 23, 59, 59), Seq(1900, 2, 29, 12, 0, 0), Seq(2000, 2, 29, 12, 0, 0))
    val vs = (for (i <- fixedWidth; f <- fields) yield render(formats(i).java, f)).distinct
    // every value takes the fixed-width path of its own format
    for (i <- fixedWidth; f <- fields) {
      val v = render(formats(i).java, f)
      assert(DatetimeCandidates.Layout.of(formats(i).java).fits(v), v)
    }
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    for (session <- Seq(spark, la)) {
      val parsed = assertParsesAsSpark(session, vs ++ values(seed = 5L, n = 1500))
      assert(parsed > 300, s"only $parsed parses")
    }
    // the gap and the overlap are where the zone shows: one hour apart
    // in UTC, 02:30 moves to 03:30 PDT and 01:30 takes PDT, the earlier
    // offset
    val laParsers = DatetimeCandidates.parsers(DateTimeUtils.getZoneId("America/Los_Angeles"))
    val full = formats.indexWhere(_.java == "yyyy-MM-dd HH:mm:ss")
    def at(s: String): Long = laParsers(full).parse(s).get
    assert(at("2021-03-14 02:30:00") == at("2021-03-14 03:30:00"))
    assert(at("2021-11-07 01:30:00") == java.time.Instant.parse("2021-11-07T08:30:00Z")
      .getEpochSecond * 1000000L)
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
