package graft

import java.nio.file.{Files, Path}
import java.time.Instant
import java.time.temporal.ChronoUnit
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** events.ts has shipped as TIMESTAMP(NANOS) (older driver data, GenSf
  * sf1 output) and as plain `timestamp[us]` (the committed test data).
  * `Tables.load` reads both to the same session-tz timestamps, from the
  * file footer, without running a job or writing a session conf. */
class TablesLoadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** `<dir>/events.parquet` with `event_id` 0.. and `ts` in `tsType`. */
  private def writeEvents(dir: Path, tsType: String, ts: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts ($tsType); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
  }

  test("events load from TIMESTAMP(NANOS) and timestamp[us] alike, with no job and no conf write") {
    val micros = Seq(1704067200000000L, 1704067200123456L, 1706745599999999L)
    val nanosDir = Files.createTempDirectory("graft_events_nanos")
    val microsDir = Files.createTempDirectory("graft_events_micros")
    writeEvents(nanosDir, "TIMESTAMP(NANOS,true)", micros.map(_ * 1000))
    writeEvents(microsDir, "TIMESTAMP(MICROS,false)", micros)
    val s = spark.newSession()
    val before = s.conf.getAll
    val (loaded, census) = obs.JobCensus.of(s) {
      Seq(nanosDir, microsDir).map(d => Tables.load(s, d.toString, "events"))
    }
    assert(census.jobs.isEmpty, s"the loads ran jobs: ${census.jobs}")
    assert(s.conf.getAll == before)
    val ts = loaded.map { df =>
      assert(df.schema("ts").dataType == TimestampType)
      df.orderBy("event_id").collect().map(r =>
        ChronoUnit.MICROS.between(Instant.EPOCH, r.getAs[java.sql.Timestamp]("ts").toInstant))
        .toSeq
    }
    assert(ts == Seq(micros, micros))
  }
}
