package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.JobCensus
import graft.profiler.{Profiler, ProfilerOptions}
import graft.streaming.StreamingProfiler

/** Spark jobs per profiler call, counted by [[graft.obs.JobCensus]].
  * Each count is pinned as a ceiling, so a change that adds a job to a
  * profile call fails here; a change that removes one lowers the
  * ceiling. */
class ProfilerJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def jobsOf(f: => Unit): Int = JobCensus.of(spark)(f)._2.jobs.size

  /** The column kinds of the benchmark's 7-column profile frame: datetime
    * strings, integers, floats, five categories, an ascending id, long
    * text and short high-cardinality strings; plus a 2-way split key. */
  private def benchShaped: DataFrame = {
    val id = col("id")
    spark.range(0, 2000, 1, 4).select(
      date_format(timestamp_seconds(lit(946684800L) + id * 392723L % 788400000L),
        "yyyy-MM-dd HH:mm:ss").as("datetime"),
      (id * 7919 % 2000001 - 1000000).as("integer"),
      ((id * 104729 % 2000001 - 1000000) / 8.0).as("float"),
      element_at(array(Seq("A", "B", "C", "D", "E").map(lit): _*),
        (id % 5 + 1).cast("int")).as("categorical"),
      id.as("ordered"),
      repeat(concat(lit("lorem ipsum "), id.cast("string"), lit(" ")),
        (id % 40 + 20).cast("int")).as("text"),
      substring(sha2(id.cast("string"), 256), lit(1), (id % 60 + 1).cast("int"))
        .as("string"),
      (id % 2).as("half"))
  }

  private def lineitem: DataFrame =
    Tables.load(spark, SparkTestSession.sfDir, "lineitem")

  test("profile job counts do not grow: benchmark-shaped frame") {
    val df = benchShaped
    val whole = jobsOf(Profiler.profile(df.drop("half")))
    val split = jobsOf(Profiler.profileSplit(df, "half"))
    info(s"profile $whole jobs, profileSplit (2 groups) $split jobs")
    // whole: pass 1 alone (categories, vocab, order, the head sample and
    // the parsed datetime extremes ride it); a split adds the key-domain
    // guard and its one segment pass, which carries every group's order
    // summaries and head sample
    assert(whole <= 1, s"profile: $whole jobs")
    assert(split <= 3, s"profileSplit: $split jobs")
  }

  test("profile job counts do not grow: lineitem whole and 3-way split") {
    val li = lineitem
    val whole = jobsOf(Profiler.profile(li))
    val split = jobsOf(Profiler.profileSplit(
      li.withColumn("__k", col("l_orderkey") % 3), "__k"))
    info(s"profile $whole jobs, profileSplit (3 groups) $split jobs")
    // whole: pass 1 alone; split: the key-domain guard, pass 1 and the
    // segment pass
    assert(whole <= 1, s"profile: $whole jobs")
    assert(split <= 3, s"profileSplit: $split jobs")
  }

  test("profileSplit jobs do not depend on the group count: lineitem at 16 and 200 groups") {
    val li = lineitem
    for (k <- Seq(16, 200)) {
      val split = jobsOf(Profiler.profileSplit(
        li.withColumn("__k", col("l_orderkey") % k), "__k"))
      info(s"profileSplit ($k groups) $split jobs")
      assert(split <= 3, s"profileSplit, $k groups: $split jobs")
    }
  }

  test("profileSplit head-sample fallback past 16 partitions: a head per group") {
    // 20 partitions of 12 rows, two groups alternating: each group has
    // 96 rows in the first 16 partitions, under its 100-row sample
    // (exemplars; labels off), and 120 in all, so the segments' head
    // rows do not cover it and its sample is taken by `head`
    val df = spark.range(0, 240, 1, 20)
      .select((col("id") % 2).as("g"), col("id").cast("string").as("s"))
    val jobs = jobsOf(Profiler.profileSplit(df, "g",
      ProfilerOptions(computeOrder = false, computeLabels = false)))
    info(s"profileSplit (2 groups, 20 partitions) $jobs jobs")
    // the key guard, pass 1 and the segment pass, then each group's
    // head(100), which Spark's incremental take runs as 3 jobs: 1
    // partition (6 rows), 4 more (30 rows in all), the last 15
    assert(jobs == 3 + 2 * 3, s"profileSplit: $jobs jobs")
  }

  test("stream sink: an empty batch runs one job and keeps the state") {
    val df = benchShaped.drop("half")
    val sp = new StreamingProfiler()
    sp.sink(df, 0L)
    val before = sp.current
    assert(jobsOf(sp.sink(df.filter(lit(false)), 1L)) == 1)
    assert(sp.current eq before)
    // a non-empty batch costs exactly its profile: no emptiness probe
    assert(jobsOf(sp.sink(df, 2L)) == jobsOf(Profiler.profile(df)))
    assert(sp.current.get.rowCount == 2 * df.count())
  }

  test("an empty frame runs pass 1 only") {
    // a filter the optimizer cannot fold to an empty relation
    val none = benchShaped.filter(col("ordered") < 0)
    assert(jobsOf(Profiler.profile(none.drop("half"))) == 1)
    // a split adds only the key-domain guard's distinct count, and with
    // a bounded key domain (as stream_gate declares) not even that
    assert(jobsOf(Profiler.profileSplit(none, "half")) == 2)
    var groups = -1
    assert(jobsOf {
      groups = Profiler.profileSplit(none, "half",
        ProfilerOptions(keyDomainBounded = true)).size
    } == 1)
    assert(groups == 0)
  }
}
