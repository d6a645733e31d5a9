package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.profiler.Profiler

/** A scoped conf override leaves the session's explicit conf entries
  * exactly as it found them: an unset key stays unset, a set key gets
  * its value back. */
class SessionConfsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val aqe = "spark.sql.adaptive.enabled"

  test("withConf restores an unset key as unset") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(!before.contains(aqe))
    val inside = SessionConfs.withConf(s, aqe, "false")(s.conf.get(aqe))
    assert(inside == "false")
    assert(s.conf.getAll == before)
  }

  test("withConf restores a set key's value, also when the body throws") {
    val s = spark.newSession()
    s.conf.set(aqe, "true")
    val before = s.conf.getAll
    intercept[IllegalStateException] {
      SessionConfs.withConf(s, aqe, "false")(throw new IllegalStateException)
    }
    assert(s.conf.getAll == before)
    assert(s.conf.get(aqe) == "true")
  }

  test("Profiler.profile leaves a fresh session's conf entries unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val df = s.range(200).selectExpr("id", "cast(id % 7 as string) as s")
    assert(Profiler.profile(df).rowCount == 200)
    assert(s.conf.getAll == before)
  }

  test("quality_classifier leaves a fresh session's conf entries unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(!before.contains(aqe))
    graft.operators.CurationQueries.queries("quality_classifier")(
      s, SparkTestSession.sfDir).collect()
    assert(s.conf.getAll == before)
  }

  test("connectedComponents leaves a fresh session's conf entries unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val edges = s.createDataFrame(Seq((1L, 2L), (2L, 3L), (5L, 6L)))
      .toDF("src", "dst")
    assert(graft.graph.GraphProfiler.connectedComponents(edges).count() == 5)
    assert(s.conf.getAll == before)
  }

  test("withStatePartitions leaves a fresh session's conf entries unchanged") {
    val s = spark.newSession()
    // the test session sets the key explicitly; unset, a restore that
    // read `conf.get` would leave the default behind as an entry
    s.conf.unset("spark.sql.shuffle.partitions")
    val before = s.conf.getAll
    assert(!before.contains("spark.sql.shuffle.partitions"))
    val inside = graft.operators.StreamingQueries.withStatePartitions(s, 3) {
      s.range(1).selectExpr(s"'${s.conf.get("spark.sql.shuffle.partitions")}' as p")
    }.head().getString(0)
    assert(inside == sys.props.getOrElse("graft.stream.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "3")))
    assert(s.conf.getAll == before)
  }

  test("stream_join_rocksdb leaves a fresh session's conf entries unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    graft.operators.StreamingQueries.streamJoinRocksdb(
      s, SparkTestSession.sfDir).collect()
    assert(s.conf.getAll == before)
  }
}
