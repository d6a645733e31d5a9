package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.profiler.{Codec, Diff, Profiler, Report}

/** Degenerate inputs must profile, report, encode, and merge without
  * crashing: empty frames, single rows, all-null columns. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("num", DoubleType, nullable = true),
    StructField("str", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true)))

  private def df(rows: Row*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, math.max(1, rows.size)),
      schema)

  test("roundHalfUp passes NaN/Inf through like Spark round()") {
    // degenerate census slices (n == 0, pe == 1.0) produce NaN/Inf
    // ratios; driver-side rounding must yield NaN rows like the old
    // DataFrame round() did, not throw NumberFormatException
    import graft.functions.roundHalfUp
    assert(roundHalfUp(Double.NaN, 6).isNaN)
    assert(roundHalfUp(Double.PositiveInfinity, 6).isPosInfinity)
    assert(roundHalfUp(Double.NegativeInfinity, 6).isNegInfinity)
    assert(roundHalfUp(0.0000005, 6) == 1e-6) // HALF_UP on the knife edge
    assert(roundHalfUp(-1.2345675, 6) == -1.234568)
  }

  test("empty DataFrame profiles and reports") {
    val p = Profiler.profile(df())
    assert(p.rowCount == 0)
    assert(p.columns.size == 3)
    val json = Report.pretty(p)
    assert(json.contains("\"row_count\": 0"))
    assert(Codec.encode(Codec.decode(Codec.encode(p))) == Codec.encode(p))
    // merging two empties stays empty
    assert(p.merge(p).rowCount == 0)
  }

  test("single-row DataFrame profiles; stats degenerate gracefully") {
    val t = java.sql.Timestamp.valueOf("2026-01-02 03:04:05")
    val p = Profiler.profile(df(Row(4.5, "x", t)))
    assert(p.rowCount == 1)
    val n = p.column("num").get.numeric.get
    assert(n.mean == 4.5 && n.min == 4.5 && n.max == 4.5)
    assert(n.varianceSample.isNaN) // n=1: undefined, not crash
    assert(p.column("str").get.categorical.get.counts == Map("x" -> 1L))
    Report.pretty(p)
  }

  test("all-null column profiles and merges") {
    val rows = (1 to 10).map(_ => Row(null, null, null))
    val p = Profiler.profile(df(rows: _*))
    assert(p.rowCount == 10)
    assert(p.column("num").get.nulls == 10)
    assert(p.rowIsNull == 10 && p.rowHasNull == 10)
    val merged = p.merge(p)
    assert(merged.column("num").get.nulls == 20)
    val d = Diff.diff(p, p)
    assert(d.rowCountDelta == 0)
    Report.pretty(merged)
  }

  test("mixed: some nulls in every column") {
    val t = java.sql.Timestamp.valueOf("2026-01-02 03:04:05")
    val rows = (1 to 20).map { i =>
      Row(if (i % 3 == 0) null else i.toDouble,
        if (i % 4 == 0) null else s"v$i",
        if (i % 5 == 0) null else t)
    }
    val p = Profiler.profile(df(rows: _*))
    assert(p.column("num").get.nulls == 6)
    assert(p.column("str").get.nulls == 5)
    assert(p.column("ts").get.nulls == 4)
    assert(p.rowIsNull == 0) // lcm(3,4,5)=60 > 20: no all-null row
    assert(p.rowHasNull == (1 to 20).count(i =>
      i % 3 == 0 || i % 4 == 0 || i % 5 == 0))
  }

  test("binary exemplars render as hex, the same on every profile") {
    import spark.implicits._
    val bin = Seq(Array[Byte](0, 1, 127), Array[Byte](-1, -128, 16)).toDF("b")
    val first = Profiler.profile(bin).column("b").get.exemplars
    assert(first == Seq("00017f", "ff8010"))
    assert(Profiler.profile(bin).column("b").get.exemplars == first)
  }

  test("gini and unalikeability do not depend on the category map's insertion order") {
    import graft.profiler.CategoricalStats
    // counts whose shares sum to different last bits in different orders
    val entries = Seq("a" -> 106604361L, "b" -> 207114534L, "c" -> 389704909L,
      "d" -> 394386975L)
    // a Map of up to 4 entries iterates in insertion order
    val stats = entries.permutations.map(e => CategoricalStats(4, e.toMap, capped = false))
      .toSeq
    assert(stats.map(_.counts.keys.mkString).distinct.size == 24)
    def bits(d: Option[Double]) = d.map(java.lang.Double.doubleToLongBits)
    assert(stats.map(s => bits(s.gini)).distinct.size == 1)
    assert(stats.map(s => bits(s.unalikeability)).distinct.size == 1)
    // both stay within a few ulps of the exact values
    val n = BigDecimal(entries.map(_._2).sum)
    val sq = entries.map(e => BigDecimal(e._2) * e._2).sum
    val gini = (1 - sq / (n * n)).toDouble
    val un = ((n * n - sq) / (n * n - n)).toDouble
    assert(math.abs(stats.head.gini.get - gini) <= 4 * math.ulp(gini))
    assert(math.abs(stats.head.unalikeability.get - un) <= 4 * math.ulp(un))
  }
}
