package graft

import org.apache.spark.sql.SparkSession

/** The one place the suite's mains, tools and specs build a SparkSession.
  * Every session is `local[cpus]` with the suite's shared choices; a
  * caller passes only what it does differently, as `confs`, which are
  * applied last and so override any shared choice. */
object GraftSession {

  /** The ObjectHashAggregate sort-based fallback threshold key. */
  val SortFallbackThreshold =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** `SPARK_GRAFT_CPUS` as a core count (`default` when unset). */
  def envCpus(default: Int = 4): Int =
    parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  /** `SPARK_GRAFT_CPUS` as a positive core count (`default` when unset).
    * It becomes `local[N]`, a bare JSON number and part of a file name,
    * so anything else fails here with the offending value. */
  private[graft] def parseCpus(raw: Option[String], default: Int = 4): Int =
    raw match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got \"$v\""))
    }

  /** A `local[cpus]` session (or the one already running) with shuffle
    * partitions = `cpus`, UTC, TIMESTAMP(NANOS) parquet columns read as
    * longs, the UI off, WARN logging and the `graft_*` SQL functions of
    * [[GraftExtensions]], then `confs`. */
  def apply(cpus: Int = envCpus(), appName: String = "",
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // single large parquet files split at the default 128 MB starve a
      // 32-thread executor (measured: labeler_votes scan-stage on 6
      // tasks, dsir_weights on 2) — size splits to the core count
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
      // ObjectHashAggregate falls back to SORT-BASED aggregation at 128
      // distinct keys per partition (Spark's conservative default) —
      // measured sorting the triangle pipeline's full half-edge stream.
      // Every object-buffer aggregate in this suite keys on bounded or
      // model-sized groups, so the hash path is safe at any suite scale.
      .config(SortFallbackThreshold, "20000000")
      // older driver generations (and GenSf sf1 output) write events.ts
      // as TIMESTAMP(NANOS), which Spark reads only as a nanos long;
      // Tables.normalizeEventsTs turns that long into a timestamp
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (appName.nonEmpty) b.appName(appName)
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
