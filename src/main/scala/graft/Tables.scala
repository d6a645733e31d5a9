package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All engine code reads through here so that path handling lives in one
  * place. A load reads the table's schema from its file footer
  * ([[graft.sources.GraftData.parquet]]), so it runs no Spark job and
  * writes no session conf. events.ts in the TIMESTAMP(NANOS) shape needs
  * a session that reads those columns as longs, as every
  * [[GraftSession]] session does.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.sources.GraftData.parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** [[load]] plus an explicit round-robin fan-out to the session's
    * shuffle parallelism, for pipelines whose PER-ROW COMPUTE dominates
    * row bytes (entity labeling, tokenization + gram explodes, NB
    * scoring). Their expensive work runs in the SCAN stage, so its
    * parallelism is inherited from the file layout — a single-row-group
    * parquet file (exactly the bench corpus's shape) runs one task
    * while 31 cores idle, and even a many-file corpus has straggler row
    * groups. One thin exchange of the input rows decouples compute
    * parallelism from storage layout — the same compute/IO decoupling a
    * 100 TB image-decode pipeline applies before its expensive map.
    * Measured at sf1: the bm25/quality/dsir doc scans and the labeler
    * cell synthesis ran on 2 of 32 cores without it. */
  def loadFanned(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name)
      .repartition(spark.sessionState.conf.numShufflePartitions)

  /** events.ts arrives in one of two physical shapes depending on the
    * data generation: TIMESTAMP(NANOS) surfaced as a nanos LONG (the
    * session's `nanosAsLong` read, see [[GraftSession]]), or a plain
    * parquet timestamp[us] that Spark reads as TIMESTAMP_NTZ. Both normalize to session-tz TimestampType at
    * microsecond precision so every downstream query (and its oracle
    * comparison) sees a single type regardless of generation. Works on
    * batch and streaming frames alike (pure projection). */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
}
