package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.profiler.{Codec, Profile, Profiler, ProfilerOptions, Report}

/** Output fingerprint of the profiler (test scope, not shipped): for
  * each fixture profile, the SHA-256 of `Codec.encode` and of
  * `Report.flat` (sorted key=value lines), with timings zeroed. Run it
  * on two checkouts and diff the output: a change that must not alter
  * any profile prints identical lines.
  *
  * Fixtures, per test-data directory given: six tables profiled whole
  * (labels on) and a 3-way `l_orderkey % 3` split of lineitem; then,
  * once, a 3-partition frame with a string datetime column, whole and
  * split in two; that frame with no rows, whole and split; and a
  * 3-partition frame of nulls, NaN, ±Inf, signed zeros, constant
  * numeric and string columns, a date and a boolean column, whole and
  * split in two. Splits run with labels off.
  *
  * Run: Test/runMain graft.tools.ProfileFingerprint <sfDir> [<sfDir> ...]
  */
object ProfileFingerprint {
  private val Tables =
    Seq("customer", "documents", "events", "lineitem", "orders", "part")

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def zeroTimes(p: Profile): Profile =
    p.copy(timesMs = p.timesMs.map { case (k, _) => k -> 0L })

  private def print(name: String, p0: Profile): Unit = {
    val p = zeroTimes(p0)
    val flat = Report.flat(p).toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString("\n")
    println(s"FP $name codec=${sha256(Codec.encode(p))} flat=${sha256(flat)}")
  }

  private def split(name: String, df: DataFrame, key: String): Unit =
    Profiler.profileSplit(df, key, ProfilerOptions(computeLabels = false))
      .toSeq.sortBy(_._1).foreach { case (k, p) => print(s"$name/$k", p) }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileFingerprint <sfDir> [<sfDir> ...]")
    val spark = graft.GraftSession(cpus = 4, appName = "profile-fingerprint")
    for (dir <- args) {
      val sf = new java.io.File(dir).getName
      for (t <- Tables)
        print(s"$sf/$t", Profiler.profile(graft.Tables.load(spark, dir, t)))
      split(s"$sf/lineitem%3",
        graft.Tables.load(spark, dir, "lineitem")
          .withColumn("__k", col("l_orderkey") % 3), "__k")
    }
    val dt = spark.range(0, 3000, 1, 3).select(
      (col("id") % 2).as("g"),
      when(col("id") % 11 =!= 0, date_format(date_add(lit("2001-03-01")
        .cast("date"), (col("id") * 7 % 900).cast("int")), "yyyy-MM-dd"))
        .as("d"),
      concat(lit("v"), (col("id") % 37).cast("string")).as("s"),
      (col("id") * 13 % 101).as("x"))
    print("dt", Profiler.profile(dt.drop("g")))
    split("dt%2", dt, "g")

    // the same frame with no rows: a split yields no profile at all
    val none = dt.filter(lit(false))
    print("empty", Profiler.profile(none.drop("g")))
    println(s"FP empty%2 groups=${
      Profiler.profileSplit(none, "g", ProfilerOptions(computeLabels = false)).size}")

    // special doubles, signed zeros, constants, and a date and a
    // boolean column, over 3 partitions
    val id = col("id")
    val edge = spark.range(0, 600, 1, 3).select(
      (id % 2).as("g"),
      when(id % 7 === 0, lit(null))
        .when(id % 7 === 1, lit(Double.NaN))
        .when(id % 7 === 2, lit(Double.PositiveInfinity))
        .when(id % 7 === 3, lit(Double.NegativeInfinity))
        .when(id % 7 === 4, lit(-0.0))
        .otherwise(id * 0.5 - 100).as("x"),
      when(id % 3 === 0, lit(-0.0)).when(id % 3 === 1, lit(0.0)).as("z"),
      when(id < 300, lit(-0.0)).otherwise(lit(0.0)).as("sz"),
      when(id % 4 =!= 0, id * 3 % 17).as("i"),
      lit(2.5).as("cx"),
      lit("k").as("cs"),
      when(id % 5 === 0, lit(null)).when(id % 5 === 1, lit(""))
        .when(id % 5 === 2, lit("\uD83D\uDE00 x"))
        .otherwise(concat(lit(" "), id.cast("string"), lit(".0 "))).as("s"),
      when(id % 6 =!= 0, date_add(lit("2020-02-28").cast("date"),
        (id % 40).cast("int"))).as("d"),
      (id % 3 === 0).as("b"))
    print("edge", Profiler.profile(edge.drop("g")))
    split("edge%2", edge, "g")
    spark.stop()
  }
}
