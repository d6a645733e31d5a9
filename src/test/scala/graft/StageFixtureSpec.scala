package graft

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Stage.fixture` builds a fixture once per source state: a call with
  * the source unchanged reuses it without running a job, a table
  * rewritten in place rebuilds it, and concurrent queries over one
  * source share it. */
class StageFixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A fresh source dir holding copies of `tables` from the test data. */
  private def sourceDir(tables: String*): Path = {
    val d = Files.createTempDirectory("graft_fixture_src")
    tables.foreach(t => Files.copy(Paths.get(SparkTestSession.sfDir, s"$t.parquet"),
      d.resolve(s"$t.parquet")))
    d
  }

  /** Rewrite `<src>/<table>.parquet` in place with `rows` of the test
    * data's table. */
  private def rewrite(src: Path, table: String)(
      rows: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
    Stage.singlePart(src.resolve(s"$table.parquet"), ".parquet")(
      rows(Tables.load(spark, SparkTestSession.sfDir, table)).coalesce(1).write.parquet(_))

  test("a fixture is reused while its source holds and rebuilt when a table is rewritten") {
    val src = sourceDir("nation")
    var builds = 0
    def stage(): Path = Stage.fixture("fixture_spec", src.toString, "p") { tmp =>
      builds += 1
      Tables.load(spark, src.toString, "nation").write.parquet(tmp.toString)
    }
    val first = stage()
    val (again, census) = obs.JobCensus.of(spark)(stage())
    assert(again == first && builds == 1)
    assert(census.jobs.isEmpty, s"the reuse ran jobs: ${census.jobs}")
    rewrite(src, "nation")(_.limit(3))
    assert(stage() == first && builds == 2)
    assert(spark.read.parquet(first.toString).count() == 3)
    assert(new String(Files.readAllBytes(Paths.get(s"$first.src")), "UTF-8")
      .linesIterator.next() == src.toAbsolutePath.normalize().toString)
  }

  test("stream_profile stages once per source state") {
    val src = sourceDir("lineitem")
    def run(): (Seq[Row], Int) = {
      val (rows, c) = obs.JobCensus.of(spark)(
        SparkEntry.queries("stream_profile")(spark, src.toString).collect().toSeq)
      (rows, c.jobs.size)
    }
    def rowCount(rows: Seq[Row]): Double =
      rows.find(_.getString(0) == "row_count").get.getDouble(1)
    val (cold, coldJobs) = run()
    val (warm, warmJobs) = run()
    assert(warm == cold)
    assert(warmJobs < coldJobs, s"warm $warmJobs jobs, cold $coldJobs")
    rewrite(src, "lineitem")(_.filter(col("l_orderkey") % 3 =!= 0))
    val (fresh, _) = run()
    assert(rowCount(fresh) == Tables.load(spark, src.toString, "lineitem")
      .filter(col("l_orderkey") % 8 === 0).count())
    assert(rowCount(fresh) < rowCount(cold))
  }

  test("event streams opened from four threads at once share one staged dir") {
    val src = sourceDir("events")
    Await.result(Future.sequence((1 to 4).map(_ => Future((1 to 25).foreach(_ =>
      operators.StreamingQueries.eventsStream(spark, src.toString))))), 5.minutes)
    val staged = Stage.fixture("stream_events", src.toString)(_ => fail("rebuilt"))
    assert(staged.toFile.list().toSeq == Seq("events.parquet"))
  }

  test("stream_windows and stream_dedup on one session from two threads match their serial results") {
    val src = sourceDir("events")
    val names = Seq("stream_windows", "stream_dedup")
    def run(n: String): Seq[Row] =
      SparkEntry.queries(n)(spark, src.toString).collect().toSeq
    val concurrent = Await.result(Future.sequence(names.map(n => Future(run(n)))), 5.minutes)
    assert(concurrent == names.map(run))
  }
}
