package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.functions._
import graft.profiler.{Profiler, ProfilerOptions}
import scala.jdk.CollectionConverters._

/** Codegen census of the profiler (test scope, not shipped): how many
  * generated classes a profile call puts in Spark's codegen cache, and
  * how many Janino compiles a repeat of the same call still pays.
  *
  * In a fresh JVM it profiles a synthetic 8k-row frame (numeric, string,
  * string-datetime and timestamp columns) whole twice, then split two
  * ways twice. For each call it prints the cache entries and the
  * distinct generated sources it added — read by reflection from
  * `CodeGenerator`'s cache, which is keyed on (class loader, source) —
  * and the compiles it triggered. The cache holds
  * `spark.sql.codegen.cache.maxEntries` (100 by default) entries; a
  * line marked `cache-full` may undercount, since an eviction hides an
  * entry added by the same call.
  *
  * Run: Test/runMain graft.tools.CodegenCensus
  */
object CodegenCensus {

  /** The cache's current keys as (class loader, source) pairs. */
  private def cacheKeys(): Set[(AnyRef, String)] = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    // the wrapper class is private[spark]; its guava cache is not
    val guava = cache.getClass.getMethod("loadingCache").invoke(cache)
      .asInstanceOf[org.sparkproject.guava.cache.LoadingCache[
        (AnyRef, CodeAndComment), AnyRef]]
    guava.asMap().keySet().asScala.map { case (loader, code) =>
      (loader, code.body)
    }.toSet
  }

  private def census(name: String, maxEntries: Int)(f: => Unit): Unit = {
    val before = cacheKeys()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val after = cacheKeys()
    val added = after -- before
    val full = if (after.size >= maxEntries) " cache-full" else ""
    println(s"CENSUS $name: compiles=$compiles entries_added=${added.size} " +
      s"sources_added=${added.map(_._2).size} cache_size=${after.size}$full")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(cpus = 4, appName = "codegen-census")
    val maxEntries = spark.sparkContext.getConf
      .getInt("spark.sql.codegen.cache.maxEntries", 100)
    val df = spark.range(0, 8000, 1, 4).select(
      (col("id") % 2).as("g"),
      (col("id") * 7 % 1009).as("integer"),
      (sin(col("id").cast("double")) * 100).as("float"),
      concat(lit("c"), (col("id") % 23).cast("string")).as("category"),
      concat(lit("word "), col("id").cast("string"), lit(" é")).as("text"),
      when(col("id") % 13 =!= 0, date_format(date_add(lit("2001-03-01")
        .cast("date"), (col("id") % 900).cast("int")), "yyyy-MM-dd")).as("day"),
      timestamp_seconds(lit(978307200L) + col("id") * 3600L).as("ts"))
    val opts = ProfilerOptions()
    for (round <- Seq("first", "repeat"))
      census(s"profile $round", maxEntries) { Profiler.profile(df.drop("g"), opts) }
    for (round <- Seq("first", "repeat"))
      census(s"split2 $round", maxEntries) { Profiler.profileSplit(df, "g", opts) }
    spark.stop()
  }
}
