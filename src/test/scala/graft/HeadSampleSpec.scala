package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{cnt, DatetimeFormats, OrderDetect, OrderSegmentsAggregate}
import graft.labelers.RegexLabeler
import graft.profiler.{Profile, Profiler, ProfilerOptions}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Label votes, datetime-format discovery and exemplars all read the
  * profile's one head sample. Each must equal what its own bounded probe
  * returned before — a limit()-bounded melt + groupBy for the labeler,
  * a limit(50) aggregate for the formats, a limit(100) collect for the
  * exemplars. Those three formulations live on here only, as the
  * reference. */
class HeadSampleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The old pass 4: labels of the first `labelerSampleSize` rows. */
  private def limitLabelVotes(df: DataFrame, stringCols: Seq[String],
      opts: ProfilerOptions): Map[String, Map[String, Long]] =
    df.select(stringCols.map(col): _*).limit(opts.labelerSampleSize)
      .select(explode(array(stringCols.map(c =>
        struct(lit(c).as("k"), col(c).cast("string").as("v"))): _*)).as("kv"))
      .select(col("kv.k"), RegexLabeler.labelOf(col("kv.v")).as("label"))
      .filter(col("label").isNotNull)
      .groupBy("k", "label").agg(count(lit(1)).as("c"))
      .collect()
      .groupBy(_.getString(0)).map { case (k, rows) =>
        k -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      }

  /** The old pass-7 discovery: formats matching any of the first 50 rows. */
  private def limitFormats(df: DataFrame, c: String): Seq[String] = {
    val fmts = DatetimeFormats.formats
    val aggs = fmts.zipWithIndex.map { case (f, i) =>
      cnt(DatetimeFormats.matches(col(c), f)).as(s"f$i")
    }
    val r = df.select(col(c)).limit(50).agg(aggs.head, aggs.tail: _*).head()
    fmts.indices.filter(i => r.getLong(i) > 0).map(fmts(_).java)
  }

  /** The old pass 8: 5 distinct values per column of the first 100 rows. */
  private def limitExemplars(df: DataFrame): Map[String, Seq[String]] = {
    val rows = df.limit(100).collect()
    df.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      f -> rows.iterator.map(_.get(i)).filter(_ != null).map(_.toString)
        .toSeq.distinct.take(5)
    }.toMap
  }

  /** The head rules as the profiler ran them before: one select over
    * the rows as a LocalRelation, each rule gated to its row prefix
    * (`labelOf` for the votes, `DatetimeFormats.matches` per format),
    * folded on the driver. */
  private def localRelationRules(rows: Array[Row], fields: Seq[StructField],
      labelCols: Seq[String], labelN: Int, dtFormatCols: Seq[String], dtN: Int)
      : (Map[String, Map[String, Long]], Map[String, Seq[String]]) = {
    val ruleCols = (labelCols ++ dtFormatCols).distinct
    val fieldIdx = fields.map(_.name).zipWithIndex.toMap
    val pos = ruleCols.zipWithIndex.toMap
    def cell(c: String) = col(s"c${pos(c)}")
    val local = spark.createDataFrame(
      rows.toSeq.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(ruleCols.map(c => r.get(fieldIdx(c))) :+ i)
      }.asJava,
      StructType(ruleCols.indices.map(i => StructField(s"c$i", StringType)) :+
        StructField("i", IntegerType)))
    val formats = DatetimeFormats.formats
    val exprs = labelCols.map(c => when(col("i") < labelN, RegexLabeler.labelOf(cell(c)))) ++
      dtFormatCols.flatMap(c => formats.map(f => when(col("i") < dtN,
        DatetimeFormats.matches(cell(c), f))))
    val out = local.select(exprs: _*).collect()
    val labelVotes = labelCols.zipWithIndex.map { case (c, j) =>
      c -> out.flatMap(r => Option(r.getString(j))).groupMapReduce(identity)(_ => 1L)(_ + _)
    }.filter(_._2.nonEmpty).toMap
    val dtFormats = dtFormatCols.zipWithIndex.map { case (c, j) =>
      val base = labelCols.size + j * formats.size
      c -> formats.indices.filter(i =>
        out.exists(r => !r.isNullAt(base + i) && r.getBoolean(base + i))).map(formats(_).java)
    }.toMap
    (labelVotes, dtFormats)
  }

  test("head rules equal the LocalRelation select they replaced") {
    val r = new scala.util.Random(14L)
    // values the labeler and the format regexes fire on, with line
    // terminators (`$` matches before a final one), day suffixes and nulls
    val seeds = Seq("123", "123\n", "123\r\n", "123\u2028", "12.5", "-7", "0x1F",
      "a@example.com", "a@example.com\n", "555-867-5309", "(555) 867-5309",
      "192.168.0.1", "4111 1111 1111 1111", "123-45-6789", "12345", "12345-6789",
      "https://example.com/x", "John Smith", "CA", "100 Main St", "2021-03-04",
      "2021-03-04\n", "2021-03-04 05:06:07", "2021-03-04T05:06:07", "03/04/2021",
      "03/04/21", "March 23rd, 2022", "Mar 01st, 2022", "23rd March 2022",
      "1st Jan 2020", "Jan 02nd, 2020", "20210304", "05:06:07", "Thu Mar 04 05:06:07 2021",
      "11th", "2nd", "", " ", "UNKNOWN", "true", "中文", "😀 2021-03-04")
    def cell(): String = r.nextInt(10) match {
      case 0 => null
      case 1 => seeds(r.nextInt(seeds.size)) + seeds(r.nextInt(seeds.size))
      case 2 => r.alphanumeric.take(r.nextInt(12)).mkString
      case _ => seeds(r.nextInt(seeds.size))
    }
    val fields = Seq(StructField("x", LongType), StructField("a", StringType),
      StructField("b", StringType), StructField("c", StringType))
    for (rowsN <- Seq(0, 7, 60, 1200); (labelN, dtN) <- Seq((1000, 50), (40, 50), (0, 50), (1000, 0))) {
      val rows = Array.fill(rowsN)(Row(r.nextLong(), cell(), cell(), cell()))
      val labelCols = if (labelN == 0) Nil else Seq("a", "b", "c")
      val dtCols = if (dtN == 0) Nil else Seq("b", "c")
      val want = localRelationRules(rows, fields, labelCols, labelN, dtCols, dtN)
      val got = Profiler.headRules(rows, fields, labelCols, labelN, dtCols, dtN)
      assert(got == want, s"$rowsN rows, labelN $labelN, dtN $dtN")
      if (rowsN == 1200 && labelN == 1000 && dtN > 0)
        assert(got._1.nonEmpty && got._2.values.exists(_.size > 1))
    }
  }

  // One partition, 1500 rows (past the default labelerSampleSize), two
  // split groups. `d` is yyyy-MM-dd for its first 200 rows (so in both
  // groups' first 50) and MM/dd/yyyy after: the late format must stay
  // undiscovered. Nulls sit in every column, some among the first rows.
  private def fixture: DataFrame = {
    val kinds = Seq("a%d@example.com", "%d", "555-01%02d", "word%d", "%d.5")
    val rows = (0 until 1500).map { i =>
      Row(
        (i % 2).toLong,
        if (i % 11 == 3) null else kinds(i / 7 % kinds.size).format(i % 100),
        if (i % 13 == 5) null
        else if (i < 200) f"2021-${i % 12 + 1}%02d-${i % 28 + 1}%02d"
        else f"${i % 12 + 1}%02d/${i % 28 + 1}%02d/2022",
        if (i % 17 == 0) null else java.lang.Long.valueOf(i * 31L % 97))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("g", LongType), StructField("s", StringType),
        StructField("d", StringType), StructField("x", LongType))))
  }

  private def assertMatchesProbes(p: Profile, df: DataFrame,
      labels: Option[ProfilerOptions], what: String): Unit = {
    val ex = limitExemplars(df)
    p.columns.foreach(c =>
      assert(c.exemplars == ex(c.name), s"$what ${c.name} exemplars"))
    assert(p.column("d").get.datetimeFormats == limitFormats(df, "d"), what)
    assert(p.column("d").get.datetimeFormats == Seq("yyyy-MM-dd"), what)
    labels.foreach { opts =>
      val votes = limitLabelVotes(df, Seq("s", "d"), opts)
      for (c <- Seq("s", "d"))
        assert(p.column(c).get.labelVotes == votes.getOrElse(c, Map.empty),
          s"$what $c label votes")
      assert(p.column("s").get.labelVotes.values.sum ==
        df.limit(opts.labelerSampleSize).filter(col("s").isNotNull).count(),
        s"$what: labels read exactly the first labelerSampleSize rows")
    }
  }

  test("profile: head-sample passes equal the three limit probes") {
    val df = fixture.drop("g")
    assert(df.rdd.getNumPartitions == 1)
    // 1000: the labeler sets the sample size; 60: the exemplars do, and
    // the labeler must still read only its first 60 rows
    for (n <- Seq(1000, 60)) {
      val opts = ProfilerOptions(labelerSampleSize = n)
      assertMatchesProbes(Profiler.profile(df, opts), df, Some(opts),
        s"labelerSampleSize=$n")
    }
    // labels off: the sample is sized by the exemplars alone
    val noLabels = Profiler.profile(df, ProfilerOptions(computeLabels = false))
    assert(noLabels.columns.forall(_.labelVotes.isEmpty))
    assertMatchesProbes(noLabels, df, None, "labels off")
  }

  /** The fixture's rows over `parts` partitions, with partition 0 empty
    * when `emptyFirst`. */
  private def spread(parts: Int, emptyFirst: Boolean): DataFrame = {
    val df = fixture.drop("g")
    val rows = df.collect().toSeq
    // contiguous slices in order, so partition order is row order
    val filled = parts - (if (emptyFirst) 1 else 0)
    val slices = (if (emptyFirst) Seq(Seq.empty[Row]) else Nil) ++
      (0 until filled).map(i => rows.slice(i * rows.size / filled, (i + 1) * rows.size / filled))
    spark.createDataFrame(
      spark.sparkContext.parallelize(slices, slices.size).flatMap(identity), df.schema)
  }

  // an empty leading partition; partitions shorter than n; more
  // partitions than keep rows (the sample falls back to `head`)
  private val layouts = Seq((4, true, false), (8, false, false), (100, false, true))

  test("pass-1 head rows equal df.head(n) across partition layouts") {
    for ((parts, emptyFirst, fallback) <- layouts; n <- Seq(1000, 60)) {
      val df = spread(parts, emptyFirst)
      val what = s"$parts partitions, empty first = $emptyFirst, n = $n"
      assert(df.rdd.getNumPartitions == parts, what)
      val r = df.agg(OrderSegmentsAggregate(lit(0L), Nil, df.columns.toSeq.map(col), n),
        count(lit(1))).head()
      val got = OrderDetect.decode(r.get(0))(0L).rows
      assert(!OrderSegmentsAggregate.covers(got.size, n, r.getLong(1)) ==
        (fallback && n == 1000), what)
      assert(Profiler.headFrom(df, n, got, r.getLong(1)).toSeq == df.head(n).toSeq, what)
      val opts = ProfilerOptions(labelerSampleSize = n)
      assertMatchesProbes(Profiler.profile(df, opts), df, Some(opts), what)
    }
  }

  test("profileSplit: head rows past the partition cap equal each group's head(n)") {
    for ((parts, emptyFirst, fallback) <- layouts; n <- Seq(1000, 60)) {
      val df = spread(parts, emptyFirst).withColumn("g", (col("x") % 2).cast("long"))
        .na.fill(0L, Seq("g"))
      val what = s"$parts partitions, empty first = $emptyFirst, n = $n"
      // every group's kept rows, and whether they cover its head(n)
      val fields = df.columns.toSeq.filterNot(_ == "g")
      val segs = OrderDetect.decode(df.agg(
        OrderSegmentsAggregate(col("g"), Nil, fields.map(col), n)).head().get(0))
      val counts = df.groupBy("g").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(segs.keySet == counts.keySet && counts.size == 2, what)
      for ((k, total) <- counts) {
        val group = df.filter(col("g") === k).select(fields.map(col): _*)
        val got = segs(k).rows
        assert(!OrderSegmentsAggregate.covers(got.size, n, total) == (fallback && n == 1000),
          s"$what group $k")
        assert(Profiler.headFrom(group, n, got, total).toSeq == group.head(n).toSeq,
          s"$what group $k")
      }
      val opts = ProfilerOptions(labelerSampleSize = n, keyDomainBounded = true)
      val split = Profiler.profileSplit(df, "g", opts)
      assert(split.keySet == counts.keySet, what)
      for ((k, p) <- split)
        assertMatchesProbes(p, df.filter(col("g") === k).drop("g"), Some(opts),
          s"$what group $k")
    }
  }

  test("profileSplit: per-group head samples equal the per-group probes") {
    val df = fixture
    // labels on at labelerSampleSize 1000 (more than a group's 750 rows)
    // and 60 (a prefix of each group), then off
    val grid = Seq(1000, 60).map(n => ProfilerOptions(labelerSampleSize = n)) :+
      ProfilerOptions(computeLabels = false)
    for (opts0 <- grid) {
      val opts = opts0.copy(keyDomainBounded = true)
      val split = Profiler.profileSplit(df, "g", opts)
      assert(split.keySet == Set(0L, 1L))
      val what = s"labels=${opts.computeLabels} n=${opts.labelerSampleSize}"
      for ((k, p) <- split) {
        assertMatchesProbes(p, df.filter(col("g") === k).drop("g"),
          Some(opts).filter(_.computeLabels), s"$what group $k")
        if (!opts.computeLabels) assert(p.columns.forall(_.labelVotes.isEmpty))
      }
    }
  }
}
