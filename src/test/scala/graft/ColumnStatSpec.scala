package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.OrderDetect
import graft.profiler.Profiler

/** Order detection, char vocab, and datetime-format discovery — the
  * round-3 per-column stats, tested against hand-computable inputs. */
class ColumnStatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("OrderDetect classifies asc/desc/constant/random across partitions") {
    val df = (1 to 1000).map(i =>
      (i.toLong, i.toLong, -i.toLong, 5L, (i * 2654435761L) % 1000))
      .toDF("k", "asc", "desc", "const", "rand")
      .repartition(7) // scramble physical layout; detect() re-ranges on k
    val r = OrderDetect.detect(df, "k", Seq("asc", "desc", "const", "rand"))
    assert(r("asc").order == "ascending")
    assert(r("desc").order == "descending")
    assert(r("const").order == "constant")
    assert(r("rand").order == "random")
    // counts include the partition-seam comparisons: n-1 total diffs
    assert(r("asc").nIncr == 999 && r("asc").nDecr == 0)
    assert(r("const").nEq == 999)
  }

  test("OrderDetect handles nulls and strings") {
    val df = Seq((1L, Some(1L), "a"), (2L, None, "b"), (3L, Some(3L), "c"),
      (4L, Some(4L), "b")).toDF("k", "v", "s")
    val r = OrderDetect.detect(df, "k", Seq("v", "s"), partitions = 2)
    assert(r("v").order == "ascending") // nulls skipped, 1 < 3 < 4
    assert(r("s").order == "random") // a < b < c > b
  }

  test("OrderDetect plans: the partition sort stays below the order aggregate") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec,
      SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.functions.OrderSegmentsAggregate
    val df = (1 to 500).map(i => (i.toLong, -i.toLong)).toDF("k", "desc")
      .repartition(5)
    val (r, execs) = SparkTestSession.executions(OrderDetect.detect(df, "k", Seq("desc")))
    val plans = execs.map(_.executedPlan)
    assert(r("desc").order == "descending" && r("desc").nDecr == 499)
    // a projection keeps its child's row order
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case pr: ProjectExec => unwrap(pr.child)
      case n => n
    }
    // the map-side (partial) order aggregate reads the sorted partitions
    // (the helper's collect descends into adaptive query stages)
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val partials = plans.flatMap(aqe.collect(_) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
        e.mode == Partial && e.aggregateFunction.isInstanceOf[OrderSegmentsAggregate]) => a
    })
    assert(partials.size == 1, s"partial order aggregates: ${partials.size}")
    assert(unwrap(partials.head.child).isInstanceOf[SortExec],
      s"no Sort below the order aggregate:\n${partials.head}")
  }

  test("order verdicts on binary, datetime, interval and non-BMP string columns") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // ascending as unsigned bytes (0x7f < 0x80 < 0xff; signed bytes would
    // put 0x80 first), as Catalyst dates / timestamps / intervals, and in
    // String.compareTo order, where a surrogate pair (U+1F600) sorts below
    // U+E000 (UTF-8 byte order would put it last)
    val bins = Seq(Array[Byte](0), Array[Byte](1, 0), Array[Byte](0x7f),
      Array[Byte](0x80.toByte), Array[Byte](0x80.toByte, 1), Array[Byte](0xff.toByte))
    val strs = Seq("a", "b", "x😀", "x\uE000", "x\uFFFF", "y")
    val rows = bins.indices.map { i =>
      Row(i.toLong, bins(i), java.sql.Date.valueOf(s"2020-0${i + 1}-01"),
        java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusHours(i * 7L),
        java.time.Duration.ofSeconds(i * 90L), strs(i))
    }
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("bin", BinaryType), StructField("d", DateType),
      StructField("ntz", TimestampNTZType),
      StructField("dur", DayTimeIntervalType()), StructField("s", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val cols = Seq("bin", "d", "ntz", "dur", "s")
    val r = OrderDetect.detect(df, "k", cols, partitions = 2)
    for (c <- cols) assert(r(c).order == "ascending" && r(c).nIncr == 5, s"$c: ${r(c)}")
    // the profiler's natural-order pass agrees, on every run
    for (_ <- 1 to 2) {
      val p = Profiler.profile(df.drop("k"))
      for (c <- cols) assert(p.column(c).get.order.contains("ascending"), c)
    }
    val desc = Profiler.profile(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.reverse, 2), schema).drop("k"))
    for (c <- cols) assert(desc.column(c).get.order.contains("descending"), c)
  }

  test("diff surfaces order and label drift") {
    import graft.profiler.{Diff, Profiler}
    val asc = (1 to 200).map(i => (i.toLong, s"u$i@example.com"))
      .toDF("v", "c").coalesce(1)
    val desc = (1 to 200).map(i => ((200 - i).toLong, s"$i"))
      .toDF("v", "c").coalesce(1)
    val d = Diff.diff(Profiler.profile(asc), Profiler.profile(desc))
    val vc = d.columns.find(_.name == "v").get
    assert(vc.orderChange.contains(("ascending", "descending")))
    val cc = d.columns.find(_.name == "c").get
    assert(cc.labelChange.exists { case (a, b) =>
      a == "EMAIL_ADDRESS" && b == "INTEGER" })
  }

  test("profile carries vocab, order, and datetime formats") {
    val df = (1 to 100).map(i =>
      (i.toLong, f"2023-06-${i % 28 + 1}%02d", "ab"))
      .toDF("k", "d", "s")
      .coalesce(1)
    val p = Profiler.profile(df)
    assert(p.column("s").get.text.get.vocabSize == 2)
    assert(p.column("s").get.text.get.vocab == Set("a", "b"))
    // vocab merges as a true set union
    val other = Profiler.profile(
      (1 to 10).map(i => (i.toLong, "2023-01-01", "bc")).toDF("k", "d", "s"))
    assert(p.merge(other).column("s").get.text.get.vocab == Set("a", "b", "c"))
    assert(p.column("k").get.order.contains("ascending"))
    assert(p.column("s").get.order.contains("constant"))
    assert(p.column("d").get.datetimeFormats.contains("yyyy-MM-dd"))
    assert(p.column("d").get.inferredType == "datetime")
    // string datetime columns get parsed min/max via discovered formats
    val dts = p.column("d").get.datetime.get
    assert(dts.minTs == "2023-06-01 00:00:00")
    assert(dts.maxTs == "2023-06-28 00:00:00")
    assert(dts.nDays >= 25 && dts.nDays <= 29) // HLL approx of 28
    val rep = profiler.Report.pretty(p)
    assert(rep.contains("\"vocab_size\"") && rep.contains("\"order\""))
  }

  test("profiler plans: no HLL++ day count, no per-character explode") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      HllSketchAgg, HyperLogLogPlusPlus, Partial, PartialMerge}
    import org.apache.spark.sql.execution.{GenerateExec, GlobalLimitExec,
      InputAdapter, LocalLimitExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec,
      ScalaAggregator}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.functions.{CodePointVocabAggregate, OrderSegmentsAggregate}
    import graft.profiler.ProfilerOptions
    // a string-datetime, a TimestampType and a text column, two groups
    val df = spark.range(3000).select(
      (col("id") % 2).as("g"),
      when(col("id") % 17 =!= 0, date_format(date_add(lit("2000-01-01")
        .cast("date"), (col("id") * 7 % 2500).cast("int")), "yyyy-MM-dd"))
        .as("sdt"),
      timestamp_seconds(lit(978307200L) + (col("id") * 13 % 1700) * 86400L +
        col("id") % 86400L).as("ts"),
      concat(lit("word "), col("id").cast("string"), lit(" é")).as("txt"))
    // a category cap below every column's cardinality: the category melt
    // is the pass that explodes legitimately, so with it idle any
    // GenerateExec left would be the vocab pass or the labeler. Labels
    // on for both, and the split key not declared bounded, so its
    // maxGroups pre-check runs and is covered by the no-limit assertion
    // (maxGroups below the row count: the optimizer drops a limit at or
    // above a Range's row count, which would hide one)
    val opts = ProfilerOptions(maxCategories = 10, maxGroups = 16)

    val ((whole, split), execs) = SparkTestSession.executions {
      (Profiler.profile(df.drop("g"), opts), Profiler.profileSplit(df, "g", opts))
    }

    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }
      .flatMap {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case n => Seq(n)
      }
    val all = execs.map(_.executedPlan).flatMap(nodes)
    val exprs = all.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(all.nonEmpty, "listener captured no plans")
    assert(!exprs.exists(_.isInstanceOf[HyperLogLogPlusPlus]),
      "approx_count_distinct (HLL++) planned by the profiler")
    assert(!all.exists(_.isInstanceOf[GenerateExec]),
      "a Generate (explode) planned by the profiler")
    // a LocalLimit/GlobalLimit names its generated counter from a
    // JVM-global id, so its stage is new source (a codegen-cache miss)
    // on every call; the head sample rides the scan segments instead
    val limits = all.filter(n =>
      n.isInstanceOf[LocalLimitExec] || n.isInstanceOf[GlobalLimitExec])
    assert(limits.isEmpty, s"limit operators planned: ${limits.map(_.nodeName)}")
    assert(exprs.exists {
      case a: OrderSegmentsAggregate => a.n > 0
      case _ => false
    }, "head sample not among the captured plans")
    // the capture saw the passes in question
    assert(exprs.exists(_.isInstanceOf[HllSketchAgg]))
    assert(exprs.exists(_.isInstanceOf[CodePointVocabAggregate]),
      "vocab aggregate not among the captured plans")
    // every aggregate is a native expression: no Aggregator wrapper
    // resolving encoders at analysis and per task
    assert(!exprs.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]),
      "a udaf(Aggregator) planned by the profiler")
    // the AQE-off scope holds only while every exchange carries partial
    // aggregates (one row per map task and key), never raw rows
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case n => n
    }
    def isPartial(p: SparkPlan): Boolean = unwrap(p) match {
      case a: BaseAggregateExec =>
        if (a.aggregateExpressions.isEmpty) a.requiredChildDistributionExpressions.isEmpty
        else a.aggregateExpressions.forall(e => e.mode == Partial || e.mode == PartialMerge)
      case _ => false
    }
    val shuffles = all.collect { case x: ShuffleExchangeExec => x }
    assert(shuffles.nonEmpty)
    for (x <- shuffles)
      assert(isPartial(x.child), s"exchange over a non-partial child:\n$x")

    // nDays within 3·rsd of the exact distinct-date count
    val frames = Seq(None -> whole) ++
      split.toSeq.map { case (k, p) => Some(k) -> p }
    assert(split.keySet == Set(0L, 1L))
    for ((k, p) <- frames; c <- Seq("sdt", "ts")) {
      val slice = k.fold(df)(v => df.filter(col("g") === v))
      val exact = slice.agg(countDistinct(to_date(col(c)))).head().getLong(0)
      val est = p.column(c).get.datetime.get.nDays
      assert(math.abs(est - exact) <= 3 * opts.ndvRsd * exact,
        s"$c group $k: nDays $est vs exact $exact")
    }
    assert(whole.column("sdt").get.datetime.get.nDays > 1000)
    // the captured runs did read the head sample: labels, formats, exemplars
    assert(whole.column("txt").get.labelVotes.nonEmpty)
    assert(whole.column("sdt").get.datetimeFormats == Seq("yyyy-MM-dd"))
    assert(split.values.forall(_.column("sdt").get.datetimeFormats.nonEmpty))
    assert(whole.columns.forall(_.exemplars.nonEmpty))
    assert(split.values.forall(_.column("txt").get.labelVotes.nonEmpty))
  }

  test("profiler plans: pass 1 is one object-aggregate job, no declarative aggregate") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec}
    import graft.functions.RowStatsAggregate
    // every column kind, under names that hold the sketch aliases' suffixes
    val df = spark.range(0, 2000, 1, 2).select(
      (col("id") * 7 % 113).as("a__quant"),
      concat(lit("v"), (col("id") % 1500).cast("string")).as("b__mg"),
      (col("id") % 3).cast("double").as("c"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      (col("id") % 2 === 0).as("flag"))
    val (p, execs) = SparkTestSession.executions(Profiler.profile(df))
    // pass 1 is the plan that computes the table-level row stats
    val pass1 = execs.map(_.executedPlan).filter(_.exists {
      case a: ObjectHashAggregateExec => a.aggregateExpressions
        .exists(_.aggregateFunction.isInstanceOf[RowStatsAggregate])
      case _ => false
    })
    assert(pass1.size == 1, s"pass-1 plans: ${pass1.size}")
    assert(pass1.head.collect { case h: HashAggregateExec => h }.isEmpty,
      s"HashAggregateExec in pass 1:\n${pass1.head}")
    val funcs = pass1.head.collect { case a: ObjectHashAggregateExec => a }
      .flatMap(_.aggregateExpressions).map(_.aggregateFunction)
    val declarative = funcs.filter(_.isInstanceOf[DeclarativeAggregate])
    assert(declarative.isEmpty, s"declarative aggregates in pass 1: $declarative")
    assert(p.column("a__quant").get.numeric.get.quantiles.nonEmpty)
    assert(p.column("b__mg").get.n == 2000)
    assert(p.column("ts").get.datetime.nonEmpty)
    assert(p.column("flag").get.n == 2000)
  }

  test("profiler plans: streamed micro-batches profile on the constructing session") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingProfiler
    val dir = java.nio.file.Files.createTempDirectory("sp-session").toFile
    val data = new java.io.File(dir, "data").toString
    val files = 2
    spark.range(0, 400, 1, files)
      .select(col("id"), concat(lit("v"), col("id").cast("string")).as("s"))
      .write.parquet(data)

    val sp = new StreamingProfiler()
    val schema = spark.read.parquet(data).schema
    val (_, execs) = SparkTestSession.executions {
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(data)
        .writeStream.foreachBatch(sp.sink)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", new java.io.File(dir, "ck").toString)
        .start().awaitTermination()
    }
    assert(sp.current.map(_.rowCount).contains(400L))

    // pass 1 (the HLL sketches) ran once per micro-batch, and every
    // profile execution the listener saw was on the constructing session
    val profileExecs = execs
      .filter(_.optimizedPlan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[HllSketchAgg]))))
    assert(profileExecs.size >= files,
      s"${profileExecs.size} profile executions for $files micro-batches")
    assert(profileExecs.forall(_.sparkSession eq spark),
      "a micro-batch profile ran on the stream's clone session")
  }

  test("profiler plans: stream_gate micro-batches profile on the caller's session") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val (rows, execs) = SparkTestSession.executions {
      graft.operators.ProfileQueries.queries("stream_gate")(
        spark, SparkTestSession.sfDir).collect()
    }
    assert(rows.nonEmpty)
    // the grouped pass 1: an Aggregate keyed on the split year holding
    // the HLL sketches
    val pass1 = execs
      .filter(_.optimizedPlan.exists {
        case a: Aggregate => a.groupingExpressions.nonEmpty &&
          a.aggregateExpressions.exists(_.exists(_.isInstanceOf[HllSketchAgg]))
        case _ => false
      })
    assert(pass1.nonEmpty, "no grouped pass-1 execution reached the listener")
    assert(pass1.forall(_.sparkSession eq spark),
      "a stream_gate micro-batch profile ran on the stream's clone session")
  }

  test("ordinal day suffixes are stripped before format discovery") {
    import spark.implicits._
    import graft.functions.{cnt, DatetimeFormats}
    // reference strips 1st/2nd/3rd/..th before strptime probing
    // (datetime_column_profile.py:47-54)
    val cells = Seq("March 23rd, 2022", "July 01st, 2021", "May 02nd, 2020",
      "January 11th, 2019", "October 04th, 2018").toDF("c")
    val fmtB = DatetimeFormats.formats.find(_.strptime == "%B %d, %Y").get
    val n = cells.select(cnt(DatetimeFormats.matches(col("c"), fmtB)).as("n"))
      .head().getLong(0)
    // "May 02nd" strips to "May 02, 2020": 'May' fails the {3,8} full-month
    // shape (3-letter month belongs to %b) — 4 of 5 match %B
    assert(n == 4)
    // parsed() alone is lax (Java MMMM accepts 'May'); all 5 parse once
    // the suffix is stripped — the shape gate above is what narrows
    val parsed = cells
      .select(DatetimeFormats.parsed(col("c"), fmtB).cast("date").as("d"))
      .collect().map(r => Option(r.getDate(0)).map(_.toString))
    assert(parsed.count(_.isDefined) == 5)
    assert(parsed.flatten.contains("2022-03-23"))
    // no false strip on plain cells: digits not followed by a suffix
    assert(Seq("2022-03-04 12:30:45").toDF("c")
      .select(DatetimeFormats.stripDaySuffix(col("c")).as("s"))
      .head().getString(0) == "2022-03-04 12:30:45")
  }

  test("two-digit-year pivot: yy maps to 2000-2099 (Java reduced-value)") {
    import spark.implicits._
    import graft.functions.DatetimeFormats
    // DOCUMENTED DEVIATION from Python strptime's %y (69-99 → 1900s;
    // datetime_column_profile.py:25-42): Java's 'yy' is a reduced-value
    // field based at 2000, so ALL two-digit years land in 2000-2099.
    // This test pins the pivot so a silent behavior change is caught.
    val fmtYy = DatetimeFormats.formats.find(_.strptime == "%m/%d/%y").get
    val got = Seq("01/15/25", "01/15/69", "01/15/70", "01/15/99", "01/15/00")
      .toDF("c")
      .select(col("c"), DatetimeFormats.parsed(col("c"), fmtYy)
        .cast("date").cast("string").as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("01/15/25") == "2025-01-15")
    assert(got("01/15/69") == "2069-01-15")
    assert(got("01/15/70") == "2070-01-15")
    assert(got("01/15/99") == "2099-01-15")
    assert(got("01/15/00") == "2000-01-15")
  }

  test("robust_stats: an all-null column emits a null-stat row, not an " +
      "all-empty frame (regression); empty table stays empty") {
    import graft.operators.ColumnStatQueries
    val rows = (1 to 300).map { i =>
      (i.toDouble, (null: java.lang.Double), (i % 7).toDouble)
    }
    val df = rows.toDF("a", "b", "c")
    val out = ColumnStatQueries.robustStatsOf(spark, df, Seq("a", "b", "c"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("a", "b", "c"))
    // the all-null column mirrors the DuckDB twin: null stats, 0 outliers
    val b = out("b")
    assert(b.isNullAt(1) && b.isNullAt(2) && b.isNullAt(3))
    assert(b.getLong(4) == 0L)
    assert(b.isNullAt(5) && b.isNullAt(6))
    // non-null columns carry real stats
    assert(!out("a").isNullAt(1) && !out("c").isNullAt(1))
    // 300 ints 1..300: q1=75.75, q3=225.25 (p·(n−1) interpolation)
    assert(math.abs(out("a").getDouble(1) - 75.75) < 1e-6)
    // ALL columns null on a non-empty table: three null-stat rows
    val allNull = Seq.fill(10)((null: java.lang.Double)).toDF("a")
      .select(col("a"), col("a").as("b"))
    val nn = ColumnStatQueries.robustStatsOf(spark, allNull, Seq("a", "b"))
      .collect()
    assert(nn.length == 2 && nn.forall(r => r.isNullAt(1) && r.getLong(4) == 0L))
    // empty table: zero rows (the twin's GROUP BY over zero rows)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      df.schema)
    assert(ColumnStatQueries.robustStatsOf(spark, empty, Seq("a", "b", "c"))
      .collect().isEmpty)
  }

  test("approx twins track the exact bin_suggest / robust_stats closely") {
    val sf = SparkTestSession.sfDir
    // bin_suggest: same methods, each estimate within 2% or ±1 bin —
    // only scott/fd/auto read the (sketched) IQR, the rest are identical
    val exactB = SparkEntry.queries("bin_suggest")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val apxB = SparkEntry.benchOnly("bin_suggest_approx")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exactB.keySet == apxB.keySet)
    exactB.foreach { case (m, b) =>
      val a = apxB(m)
      assert(math.abs(a - b) <= math.max(1L, (0.02 * b).toLong),
        s"$m: approx $a vs exact $b")
    }
    info(s"bin_suggest exact=$exactB approx=$apxB")
    // robust_stats: same rows; fences from the sketch keep outlier counts
    // and trimmed/winsorized means within 2% relative
    val exactR = SparkEntry.queries("robust_stats")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val apxR = SparkEntry.benchOnly("robust_stats_approx")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(exactR.keySet == apxR.keySet)
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 0.02 * (1 + math.abs(b))
    exactR.foreach { case (c, e) =>
      val a = apxR(c)
      assert(close(a.getAs[Double]("trimmed_mean"), e.getAs[Double]("trimmed_mean")), c)
      assert(close(a.getAs[Double]("winsor_mean"), e.getAs[Double]("winsor_mean")), c)
      val eo = e.getAs[Long]("n_outliers"); val ao = a.getAs[Long]("n_outliers")
      assert(math.abs(ao - eo) <= math.max(5L, (0.05 * eo).toLong),
        s"$c outliers: approx $ao vs exact $eo")
      info(s"robust_stats $c: outliers $eo->$ao, trim " +
        s"${e.getAs[Double]("trimmed_mean")}->${a.getAs[Double]("trimmed_mean")}, " +
        s"winsor ${e.getAs[Double]("winsor_mean")}->${a.getAs[Double]("winsor_mean")}")
    }
  }
}
