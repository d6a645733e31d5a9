package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.functions._
import graft.obs.JobCensus
import graft.profiler.{Profiler, ProfilerOptions}
import scala.jdk.CollectionConverters._

/** Codegen census (test scope, not shipped): how many generated classes
  * a call puts in Spark's codegen cache, and how many Janino compiles a
  * repeat of the same call still pays. Each census line reads the cache
  * by reflection from `CodeGenerator`, whose cache is keyed on (class
  * loader, source), and prints the entries and the distinct generated
  * sources the call added and the compiles it triggered (and, for the
  * operators, the Spark jobs it ran).
  *
  * Two sections, each in a fresh JVM:
  *
  *  - no arguments: the profiler. A synthetic 8k-row frame (numeric,
  *    string, string-datetime and timestamp columns) is profiled whole
  *    twice, then split two ways twice. The cache holds
  *    `spark.sql.codegen.cache.maxEntries` (100 by default) entries; a
  *    line marked `cache-full` may undercount, since an eviction hides an
  *    entry added by the same call.
  *  - `operators <tables-dir>`: the four `operator_mix` queries of the
  *    repository benchmark, run as its op runs them (collect, then clear
  *    the cache manager). Each query runs twice in a row: the first line
  *    is what it adds, the second what an immediate repeat compiles.
  *    Then the whole pass runs again. The session's codegen cache is
  *    made large enough that nothing is evicted, so the `PASS` line's
  *    entry count is every class one pass touches. It also gives the
  *    entries in each of the cache's segments: with the default size
  *    each segment is an LRU of a quarter of 100 entries, so a pass with
  *    a segment above 25 evicts classes the next benchmark op needs,
  *    even with fewer than 100 entries in all. Which segment a key lands
  *    in depends on identity hashes, so the split varies from JVM to
  *    JVM.
  *
  * Run: Test/runMain graft.tools.CodegenCensus
  *      Test/runMain graft.tools.CodegenCensus operators perfbench/data/sf0.01
  */
object CodegenCensus {

  /** The default `spark.sql.codegen.cache.maxEntries`. */
  private val DefaultMaxEntries = 100

  /** `CodeGenerator`'s guava cache, keyed on (class loader, source). */
  private def guavaCache(): org.sparkproject.guava.cache.LoadingCache[
      (AnyRef, CodeAndComment), AnyRef] = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    // the wrapper class is private[spark]; its guava cache is not
    cache.getClass.getMethod("loadingCache").invoke(cache)
      .asInstanceOf[org.sparkproject.guava.cache.LoadingCache[
        (AnyRef, CodeAndComment), AnyRef]]
  }

  /** The cache's current keys as (class loader, source) pairs. */
  private def cacheKeys(): Set[(AnyRef, String)] =
    guavaCache().asMap().keySet().asScala.map { case (loader, code) =>
      (loader, code.body)
    }.toSet

  /** The value of the field `name` declared by `o`'s class or a superclass. */
  private def field(o: AnyRef, name: String): AnyRef = {
    val f = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass)
      .takeWhile(_ != null).flatMap(_.getDeclaredFields).find(_.getName == name)
      .getOrElse(sys.error(s"no field $name on ${o.getClass}"))
    f.setAccessible(true)
    f.get(o)
  }

  /** Entries per segment of the cache. Guava splits a size-bounded cache
    * into segments (4 for both the default 100 entries and this census's
    * unbounded size), each an LRU of its share of the bound, and puts a
    * key in a segment by its hash — here the class loader's identity
    * hash, so the split differs from JVM to JVM. */
  private def segmentSizes(): Seq[Int] =
    field(field(guavaCache(), "localCache"), "segments").asInstanceOf[Array[AnyRef]]
      .toSeq.map(seg => field(seg, "count").asInstanceOf[Int])

  /** Run `f`, print its census line, and return the cache keys it added.
    * `f` returns a suffix for the line. */
  private def census(name: String, maxEntries: Int)(f: => String)
      : Set[(AnyRef, String)] = {
    val before = cacheKeys()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val suffix = f
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val after = cacheKeys()
    val added = after -- before
    val full = if (after.size >= maxEntries) " cache-full" else ""
    println(s"CENSUS $name: compiles=$compiles entries_added=${added.size} " +
      s"sources_added=${added.map(_._2).size} cache_size=${after.size}$full$suffix")
    added
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq() => profiler()
    case Seq("operators", dir) => operators(dir)
    case _ => sys.error("usage: CodegenCensus [operators <tables-dir>]")
  }

  private def profiler(): Unit = {
    val spark = graft.GraftSession(cpus = 4, appName = "codegen-census")
    val maxEntries = spark.sparkContext.getConf
      .getInt("spark.sql.codegen.cache.maxEntries", DefaultMaxEntries)
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
      census(s"profile $round", maxEntries) { Profiler.profile(df.drop("g"), opts); "" }
    for (round <- Seq("first", "repeat"))
      census(s"split2 $round", maxEntries) { Profiler.profileSplit(df, "g", opts); "" }
    spark.stop()
  }

  /** The `operator_mix` queries, in the benchmark's order. */
  private val OperatorMixQueries =
    Seq("stream_neardup", "dedup_minhash_clusters", "join_pricing", "json_scan")

  private def operators(dir: String): Unit = {
    // an unbounded cache: every class a pass touches stays countable
    val maxEntries = 1000000
    val spark = graft.GraftSession(cpus = 4, appName = "codegen-census",
      confs = Seq("spark.sql.codegen.cache.maxEntries" -> maxEntries.toString))
    def run(q: String): Unit = {
      graft.SparkEntry.queries(q)(spark, dir).collect()
      spark.catalog.clearCache()
    }
    def jobsOf(f: => Unit): String = s" jobs=${JobCensus.of(spark)(f)._2.jobs.size}"
    val pass = OperatorMixQueries.flatMap { q =>
      census(s"$q first", maxEntries)(jobsOf(run(q))) ++
        census(s"$q repeat", maxEntries)(jobsOf(run(q)))
    }.toSet
    // the default cache gives each of its segments an equal share of
    // 100 entries; a segment holding more evicts within every pass
    val segments = segmentSizes()
    val share = DefaultMaxEntries / segments.size
    println(s"PASS first: entries=${pass.size} sources=${pass.map(_._2).size} " +
      s"default_max_entries=$DefaultMaxEntries segments=${segments.mkString(",")} " +
      s"segment_share=$share" +
      (if (segments.exists(_ > share)) " exceeds" else " fits"))
    census("pass repeat", maxEntries)(jobsOf(OperatorMixQueries.foreach(run)))
    spark.stop()
  }
}
