package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSessions, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Bounded (AvailableNow) runs of a stream to its end: the two shapes the
  * streaming queries take. Each run's progress is dumped as `name`'s
  * [[StreamMetrics]]. */
object Bounded {

  /** Run `stream` into a memory sink in `outputMode` and return the
    * sink's rows: the temp view `graft_<name>` of the stream's session,
    * replaced by each run. */
  def drain(stream: DataFrame, name: String, outputMode: String): DataFrame = {
    val s = stream.sparkSession
    val view = s"graft_$name"
    scala.util.Try(s.catalog.dropTempView(view))
    val q = stream.writeStream
      .format("memory").queryName(view)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamMetrics.dump(q, name)
    s.table(view)
  }

  /** Replay the parquet files under `dir`, read with `schema`, as a file
    * stream of one file per micro-batch (so the batches, and their
    * order, are the files'), handing each batch to `sink` re-bound onto
    * `session` ([[GraftSessions.foreachBatchOn]]). Returns when the last
    * batch is done. */
  def replay(session: SparkSession, dir: String, schema: StructType,
      name: String)(sink: (DataFrame, Long) => Unit): Unit = {
    val q = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .writeStream.foreachBatch(GraftSessions.foreachBatchOn(session)(sink))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StreamMetrics.dump(q, name)
  }
}
