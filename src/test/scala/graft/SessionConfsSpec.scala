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
    // Tables.load sets the parquet nanosAsLong read knob for good (a
    // separate, known leak); load once first so the snapshot holds it
    Tables.load(s, SparkTestSession.sfDir, "documents")
    val before = s.conf.getAll
    assert(!before.contains(aqe))
    graft.operators.CurationQueries.queries("quality_classifier")(
      s, SparkTestSession.sfDir).collect()
    assert(s.conf.getAll == before)
  }
}
