package graft

import org.apache.spark.sql.{GraftSessions, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.profiler._

object SparkTestSession {
  /** One test-data root for every spec (env-overridable so the suite can
    * be pointed at another SF without editing sources). */
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")

  /** Pinned to 4 cores whatever `SPARK_GRAFT_CPUS` says (the specs'
    * partition, plan and job assertions assume 4), and with Spark's
    * default 128-key ObjectHashAggregate fallback rather than the
    * suite's: ProfileSplitSpec's ">128 groups" test exercises the
    * sort-based fallback path. */
  lazy val spark: SparkSession = GraftSession(cpus = 4, appName = "graft-test",
    confs = Seq(GraftSession.SortFallbackThreshold -> "128"))

  /** `body`'s result and the query executions it ran on [[spark]], from
    * a listener registered only while it runs (the listener bus is
    * drained on both sides, as [[graft.obs.JobCensus]] does). */
  def executions[T](body: => T): (T, Seq[QueryExecution]) = {
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = execs.add(qe)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = execs.add(qe)
    }
    GraftSessions.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    val r = try {
      val r = body
      GraftSessions.drainListenerBus(spark)
      r
    } finally spark.listenerManager.unregister(listener)
    (r, execs.toArray(Array.empty[QueryExecution]).toSeq)
  }
}

class ProfilerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def relClose(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * (1 + math.abs(b))

  lazy val li = Tables.load(spark, sf, "lineitem")
  lazy val p = Profiler.profile(li)

  test("profile matches direct Spark aggregates on lineitem") {
    val row = li.agg(
      count(lit(1)), avg("l_quantity"), var_samp("l_quantity"),
      min("l_quantity"), max("l_quantity"), sum("l_quantity"),
      skewness("l_quantity"), kurtosis("l_quantity")).collect()(0)
    assert(p.rowCount == row.getLong(0))
    val s = p.column("l_quantity").get.numeric.get
    assert(relClose(s.mean, row.getDouble(1)))
    assert(relClose(s.varianceSample, row.getDouble(2)))
    assert(s.min == row.getDouble(3) && s.max == row.getDouble(4))
    assert(relClose(s.sum, row.getDouble(5)))
    assert(relClose(s.skewnessBiased, row.getDouble(6), 1e-6))
    assert(relClose(s.kurtosisBiased, row.getDouble(7), 1e-6))
  }

  test("type inference and datetime stats") {
    assert(p.column("l_quantity").get.inferredType == "float")
    assert(p.column("l_linenumber").get.inferredType == "int")
    assert(p.column("l_returnflag").get.inferredType == "string")
    assert(p.column("l_shipdate").get.inferredType == "datetime")
    val dt = p.column("l_shipdate").get.datetime.get
    assert(dt.minTs < dt.maxTs)
  }

  test("categorical pass captures exact category counts") {
    val cat = p.column("l_returnflag").get.categorical.get
    val expected = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cat.counts == expected)
    assert(cat.gini.get > 0 && cat.gini.get < 1)
  }

  test("merge of two halves equals whole-data profile") {
    val h1 = li.filter(col("l_orderkey") % 2 === 0)
    val h2 = li.filter(col("l_orderkey") % 2 =!= 0)
    val merged = Profiler.profile(h1).merge(Profiler.profile(h2))
    assert(merged.rowCount == p.rowCount)
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount")) {
      val m = merged.column(c).get.numeric.get
      val w = p.column(c).get.numeric.get
      assert(m.n == w.n)
      assert(relClose(m.mean, w.mean))
      assert(relClose(m.varianceSample, w.varianceSample, 1e-8))
      assert(relClose(m.skewnessBiased, w.skewnessBiased, 1e-6))
      assert(relClose(m.kurtosisBiased, w.kurtosisBiased, 1e-6))
      assert(m.min == w.min && m.max == w.max)
      assert(relClose(m.sum, w.sum))
      assert(m.zeros == w.zeros && m.negatives == w.negatives)
    }
    val mc = merged.column("l_returnflag").get.categorical.get
    val wc = p.column("l_returnflag").get.categorical.get
    assert(mc.counts == wc.counts)
  }

  test("histogram mass equals row count and percentile is sane") {
    val h = p.column("l_extendedprice").get.histogram.get
    val s = p.column("l_extendedprice").get.numeric.get
    assert(h.counts.sum == s.n)
    val med = h.percentile(0.5)
    assert(med >= s.min && med <= s.max)
    assert(relClose(med, s.median, 0.05)) // histogram vs GK-sketch tolerance
  }

  test("report renders valid-shaped JSON and flat map") {
    val js = Report.pretty(p)
    assert(js.startsWith("{") && js.contains("\"global_stats\"") &&
      js.contains("\"data_stats\"") && js.contains("l_quantity"))
    val fl = Report.flat(p)
    assert(fl.keys.exists(_.startsWith("global_stats.row_count")))
  }

  test("diff: identical halves show no drift, shifted data does") {
    val h1 = Profiler.profile(li.filter(col("l_orderkey") % 2 === 0))
    val h2 = Profiler.profile(li.filter(col("l_orderkey") % 2 =!= 0))
    val d = Diff.diff(h1, h2)
    val qd = d.columns.find(_.name == "l_quantity").get.numeric.get
    assert(qd.tPValue > 0.01) // same distribution -> no significant drift
    val shifted = Profiler.profile(
      li.withColumn("l_quantity", col("l_quantity") + 100))
    val d2 = Diff.diff(p, shifted)
    val qd2 = d2.columns.find(_.name == "l_quantity").get.numeric.get
    assert(qd2.tPValue < 1e-6 && relClose(qd2.meanDelta, 100.0, 1e-6))
    val cd = d2.columns.find(_.name == "l_returnflag").get.categorical.get
    assert(cd.chi2PValue > 0.99) // identical categorical distribution
  }

  test("duplicate column names profile and merge positionally") {
    import spark.implicits._
    // two columns BOTH named "x" (legal post-join schema); the profiler
    // must alias positionally, restore names, and merge pairwise in order
    val df = Seq((1, 10), (2, 20), (3, 30)).toDF("x", "x")
    val p1 = Profiler.profile(df, ProfilerOptions(computeCorrelation = false))
    assert(p1.columns.map(_.name) == Seq("x", "x"))
    assert(p1.columns(0).numeric.get.max == 3.0)
    assert(p1.columns(1).numeric.get.max == 30.0)
    val m = p1.merge(p1)
    assert(m.columns.map(_.name) == Seq("x", "x"))
    assert(m.columns(0).n == 6 && m.columns(0).numeric.get.max == 3.0)
    assert(m.columns(1).n == 6 && m.columns(1).numeric.get.max == 30.0)
  }

  test("case-colliding locals do not double-merge one remote column") {
    import spark.implicits._
    val a = Profiler.profile(
      Seq((1, 10), (2, 20)).toDF("ID", "Id"),
      ProfilerOptions(computeCorrelation = false))
    val b = Profiler.profile(
      Seq(5, 6, 7).toDF("id"), ProfilerOptions(computeCorrelation = false))
    val m = a.merge(b)
    // neither "ID" nor "Id" is unique under lowercasing locally, so
    // remote "id" must NOT fuzzy-merge into either — it stays a leftover
    assert(m.columns.map(_.name) == Seq("ID", "Id", "id"))
    assert(m.columns.forall(c => c.n <= 3))
    // sanity: unique-case fuzzy alignment still works
    val c1 = Profiler.profile(Seq(1, 2).toDF("Key"),
      ProfilerOptions(computeCorrelation = false))
    val c2 = Profiler.profile(Seq(3, 4).toDF("key"),
      ProfilerOptions(computeCorrelation = false))
    val mc = c1.merge(c2)
    assert(mc.columns.map(_.name) == Seq("Key") && mc.columns(0).n == 4)
  }

  test("wide schema (120 columns) profiles correctly through chunking") {
    // wide tables are where the one-job pass 1 must hold: 120 columns'
    // stats aggregates in one scan, every column's stats still exact
    val cols = (0 until 120).map(i => (col("id") * (i + 1)).as(s"c$i"))
    val df = spark.range(1000).select(cols: _*)
    val p = Profiler.profile(df,
      ProfilerOptions(computeCorrelation = false, computeOrder = false))
    assert(p.columns.size == 120)
    assert(p.rowCount == 1000)
    (0 until 120 by 17).foreach { i =>
      val s = p.column(s"c$i").get.numeric.get
      assert(s.n == 1000)
      assert(s.max == 999.0 * (i + 1), s"c$i max ${s.max}")
      assert(s.sum == 499500.0 * (i + 1), s"c$i sum ${s.sum}")
    }
  }

  test("per-column null-sentinel overrides reach every stat") {
    import spark.implicits._
    val df = Seq(
      ("N/A", "N/A", "alpha"),
      ("x", "-", "beta"),
      ("N/A", "y", "N/A"),
      ("z", "", "gamma")).toDF("a", "b", "c")
    // global: N/A only; column b: also '-' and empty string
    val opts = ProfilerOptions(
      computeCorrelation = false, computeOrder = false,
      nullValues = Some("^N/A$"),
      columnNullValues = Map("b" -> "^(N/A|-|)$"))
    val p = Profiler.profile(df, opts)
    assert(p.column("a").get.nulls == 2) // two N/A
    assert(p.column("b").get.nulls == 3) // N/A, -, ""
    assert(p.column("c").get.nulls == 1) // global regex applies
    // the sentinel nulls flow into row-level accounting too
    assert(p.rowHasNull == 4)
    // and out of the category space
    val catC = p.column("c").get.categorical.get
    assert(!catC.counts.contains("N/A"))
    // no overrides → sentinels stay ordinary values (reader contract)
    val plain = Profiler.profile(df,
      ProfilerOptions(computeCorrelation = false, computeOrder = false))
    assert(plain.column("a").get.nulls == 0)
  }

  test("min_true_samples resample loop widens a sparse-column sample") {
    import spark.implicits._
    // y non-null on every 100th row: the plain 20% sample holds ~100
    // true values; a 300 floor must double the fraction until satisfied
    val df = spark.range(50000)
      .select(col("id"),
        when(col("id") % 100 === 0, col("id")).as("y"))
    val plain = Profiler.profileSampled(df,
      ProfilerOptions(computeCorrelation = false))
    val floored = Profiler.profileSampled(df,
      ProfilerOptions(computeCorrelation = false, minTrueSamples = 300))
    val plainN = plain.column("y").get.n
    val flooredN = floored.column("y").get.n
    assert(plainN < 300, s"plain sample unexpectedly large: $plainN")
    assert(flooredN >= 300, s"resample loop too small: $flooredN")
  }
}
