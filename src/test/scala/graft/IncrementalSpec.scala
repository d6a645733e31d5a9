package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.profiler.Profiler
import graft.streaming.StreamingProfiler

/** Incremental + streaming profiling: chunked updates must equal the
  * whole-data profile (the reference's update_profile contract,
  * profile_builder.py:939-998), INCLUDING the correlation matrix (pooled
  * co-moment merge, :2380-2551). */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def relClose(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * (1 + math.abs(b))

  test("three-chunk update equals whole-data profile incl correlation") {
    val li = Tables.load(spark, sf, "lineitem")
    val whole = Profiler.profile(li)
    val chunks = (0 until 3).map(i => li.filter(col("l_orderkey") % 3 === i))
    val inc = chunks.foldLeft(Option.empty[graft.profiler.Profile]) {
      (st, chunk) => Some(Profiler.update(st, chunk))
    }.get
    assert(inc.rowCount == whole.rowCount)
    // correlation no longer drops on merge: every pair matches exactly
    assert(whole.correlation.nonEmpty)
    whole.correlation.foreach { case (pair, w) =>
      val m = inc.correlation(pair)
      assert(relClose(m, w, 1e-8), s"corr $pair: $m vs $w")
    }
    // moments survive the 3-way merge too
    val wq = whole.column("l_quantity").get.numeric.get
    val iq = inc.column("l_quantity").get.numeric.get
    assert(relClose(iq.mean, wq.mean) && relClose(iq.varianceSample, wq.varianceSample, 1e-8))
    assert(relClose(iq.skewnessBiased, wq.skewnessBiased, 1e-6))
  }

  test("native pass-1 stats equal the built-in aggregates on lineitem") {
    // the built-in declarative aggregates pass 1 ran before its native
    // column-stats and co-moment aggregates, on the same frame: the
    // numeric and text moments and the correlation state agree exactly
    val li = Tables.load(spark, sf, "lineitem")
    val p = Profiler.profile(li)
    val num = Seq("l_quantity", "l_extendedprice", "l_discount")
    val aggs = num.flatMap { c =>
      val d = col(c).cast("double")
      Seq(min(d), max(d), sum(d), avg(d), var_pop(d), skewness(d), kurtosis(d))
    } ++ Seq(avg(length(col("l_returnflag")).cast("double")),
      var_pop(length(col("l_returnflag")).cast("double")),
      covar_pop(col(num(0)).cast("double"), col(num(1)).cast("double")))
    val r = li.agg(aggs.head, aggs.tail: _*).head()
    num.zipWithIndex.foreach { case (c, i) =>
      val s = p.column(c).get.numeric.get
      val o = 7 * i
      assert(s.min == r.getDouble(o) && s.max == r.getDouble(o + 1), c)
      assert(s.sum == r.getDouble(o + 2) && s.mean == r.getDouble(o + 3), c)
      assert(s.m2 == r.getDouble(o + 4) * s.n, c)
      val varp = r.getDouble(o + 4)
      assert(s.m3 == r.getDouble(o + 5) * math.pow(varp, 1.5) * s.n, c)
      assert(s.m4 == (r.getDouble(o + 6) + 3.0) * varp * varp * s.n, c)
    }
    val t = p.column("l_returnflag").get.text.get
    assert(t.meanLen == r.getDouble(21))
    assert(t.lenM2 == r.getDouble(22) * t.nLen)
    val pm = p.correlationState((num(0), num(1)))
    assert(pm.com == r.getDouble(23) * pm.n)
  }

  test("fuzzy column-name alignment merges case-different schemas") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("ID", "tag")
    val b = Seq((3L, "z")).toDF("id", "TAG")
    val m = Profiler.profile(a).merge(Profiler.profile(b))
    assert(m.columns.map(_.name).sorted == Seq("ID", "tag"))
    assert(m.column("ID").get.n == 3)
    assert(m.column("tag").get.n == 3)
  }

  test("HistogramAggregate runs unchanged inside a watermarked windowed streaming agg") {
    // SURVEY §2.10's claim made concrete: the same aggregate buffer that
    // powers the batch profiler runs as streaming state under
    // window+watermark, no code changes.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.HistogramAggregate
    import java.sql.Timestamp
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql
    val mem = MemoryStream[(Timestamp, Double)]
    val q = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(HistogramAggregate(col("v"), 8).as("h"), count(lit(1)).as("n"))
      .writeStream.outputMode("update")
      .format("memory").queryName("win_hist").start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData((t("2026-01-01 00:00:05"), 1.0), (t("2026-01-01 00:00:20"), 5.0))
    q.processAllAvailable()
    mem.addData((t("2026-01-01 00:00:40"), 9.0), (t("2026-01-01 00:01:10"), 2.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_hist")
      .selectExpr("window.start", "h.lo", "h.hi", "h.counts", "n")
      .collect()
      .groupBy(_.getTimestamp(0)).view.mapValues(_.maxBy(_.getLong(4))).toMap
    val w0 = rows(t("2026-01-01 00:00:00"))
    assert(w0.getLong(4) == 3) // three values in the first window
    assert(w0.getDouble(1) == 1.0 && w0.getDouble(2) == 9.0)
    assert(w0.getSeq[Long](3).sum == 3)
    val w1 = rows(t("2026-01-01 00:01:00"))
    assert(w1.getLong(4) == 1)
  }

  test("streaming profiler folds micro-batches into one profile") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sql
    val mem = MemoryStream[(Long, Double, String)]
    val sp = new StreamingProfiler()
    val q = mem.toDF().toDF("k", "v", "s")
      .writeStream.outputMode("append").foreachBatch(sp.sink).start()
    mem.addData((1L, 1.5, "a"), (2L, 2.5, "b"))
    q.processAllAvailable()
    mem.addData((3L, 3.5, "a"))
    q.processAllAvailable()
    q.stop()
    val p = sp.current.get
    assert(p.rowCount == 3)
    assert(p.column("v").get.numeric.get.sum == 7.5)
    val cat = p.column("s").get.categorical.get
    assert(cat.counts == Map("a" -> 2L, "b" -> 1L))
  }
}
