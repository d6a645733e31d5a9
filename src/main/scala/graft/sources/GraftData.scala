package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's `dp.Data(path)` equivalent (data_readers/data.py:31-127):
  * sniff the format from the file head, then hand the distributed read to
  * the matching `spark.read` with the inferred options. Column pruning and
  * predicate pushdown stay with Spark's native sources.
  */
object GraftData {

  final case class Loaded(format: String, df: DataFrame,
      dialect: Option[Sniffer.CsvDialect])

  /** Default byte budget for the JSON schema-inference sample (see the
    * json case below): ~8 MB of text is hundreds of thousands of lines —
    * far past where key-coverage saturates at the bench scales — while
    * keeping the inference pass O(budget) instead of O(corpus). */
  private val JsonInferSampleBytes = 8L << 20

  /** JSON ingest escape hatches. Sampled inference (the default above
    * the byte budget) is a TRADEOFF: a key appearing in fewer than
    * ~1/samplingRatio lines is likely absent from the inferred schema
    * and its values are silently NULLed on read. At lake scale the
    * recommendation is an explicit [[schema]] (zero inference passes,
    * no coverage question — the same contract every production lake
    * format enforces); [[fullInference]] opts back into the reference's
    * O(corpus) full-parse inference when a second full pass is
    * acceptable. */
  final case class JsonOptions(
      /** Explicit schema: skips inference entirely (the 100 TB path). */
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      /** true = full-parse inference regardless of corpus size (the
        * reference's behavior; one extra full pass over the text). */
      fullInference: Boolean = false,
      /** Sampling budget when inferring above it (bytes). */
      inferSampleBytes: Long = JsonInferSampleBytes)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `spark.read.parquet(path)`. A single file is read with the schema
    * from its footer ([[org.apache.spark.sql.GraftSessions.parquetFileSchema]],
    * equal to what inference yields), which spares the reader's one-task
    * schema-inference job; a directory is left to inference. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    // a glob or a missing path is left to the reader and its errors
    val isFile = scala.util.Try(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isFile)
      .getOrElse(false)
    (if (isFile) org.apache.spark.sql.GraftSessions.parquetFileSchema(spark, p) else None)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  def load(spark: SparkSession, rawPath: String,
      json: JsonOptions = JsonOptions()): Loaded = {
    val path = Sniffer.resolveUrl(rawPath)
    val s = Sniffer.sniff(spark, path)
    val df = s.format match {
      case "parquet" => parquet(spark, path)
      // the spark-avro datasource module is absent from this build —
      // AvroSource decodes via the avro-mapred input format instead
      case "avro" => AvroSource.read(spark, path)
      case "json" =>
        // Schema inference is its OWN full parse pass over the text
        // before the real read — untenable as a lake-scale default (a
        // 100 TB json-lines corpus would be parsed twice). Sample the
        // inference pass once the input exceeds the byte budget:
        // Spark's samplingRatio Bernoulli-samples LINES with a fixed
        // seed in json-lines mode, so the inferred schema is
        // deterministic, and the budget keeps enough lines (megabytes'
        // worth) that sparse optional keys are still observed. Below
        // the budget the full parse is cheaper than the risk.
        //
        // multiLine mode must NOT be sampled: there Spark samples whole
        // FILES (MultiLineJsonDataSource wraps RDD.sample over the
        // PortableDataStream file list), so a single big pretty-printed
        // document or top-level array — exactly what isMultiline
        // detects — would be Bernoulli-DROPPED from inference with
        // probability 1−ratio and the read would fail to infer any
        // schema.
        val multiLine = isMultiline(spark, path)
        json.schema match {
          // explicit schema: no inference pass AT ALL — the lake-scale
          // contract (and the only mode with a guarantee about rare keys)
          case Some(sch) =>
            spark.read.option("multiLine", multiLine).schema(sch).json(path)
          case None =>
            val ratio = {
              val bytes = try {
                val p = new org.apache.hadoop.fs.Path(path)
                val fs =
                  p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                fs.getContentSummary(p).getLength
              } catch { case _: Exception => 0L }
              if (multiLine || json.fullInference ||
                  bytes <= json.inferSampleBytes) 1.0
              else json.inferSampleBytes.toDouble / bytes
            }
            if (ratio < 1.0) log.warn(
              s"JSON schema inference sampled at ratio=$ratio " +
                s"(${json.inferSampleBytes} bytes of $path): keys rarer " +
                "than ~1/ratio lines may be missing from the schema and " +
                "their values silently null. Pass JsonOptions(schema=...) " +
                "(recommended at scale) or fullInference=true for the " +
                "full-parse guarantee.")
            spark.read.option("multiLine", multiLine)
              .option("samplingRatio", ratio)
              .json(path)
        }
      case "csv" | "graph" =>
        val d = s.csv.get
        // All-string explicit schema (csv_data.py:567-614): the reference
        // ingests every CSV cell as a string and lets the profilers decide
        // types. This also kills Spark's `inferSchema` second full scan —
        // one pass over the data instead of two at any scale.
        val names = Sniffer.columnNames(spark, path, d)
        val schema = org.apache.spark.sql.types.StructType(names.map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.StringType, nullable = true)))
        val reader = spark.read
          .option("sep", d.delimiter.toString)
          .option("quote", d.quote.toString)
          .option("header", d.hasHeader)
          .schema(schema)
        // Multi-byte charsets: Hadoop's line splitter scans for the BYTE
        // 0x0A, which cuts UTF-16/32 codepoints in half. These files are
        // not byte-splittable anyway (and carry a BOM), so they read in
        // multiLine mode where univocity decodes the whole stream with
        // the auto-BOM charset ("UTF-16"/"UTF-32" — endianness from the
        // BOM, BOM stripped). At scale, BOM'd text is a driver-sized
        // ingest format — convert to UTF-8/parquet for the lake.
        val auto =
          if (d.encoding.startsWith("UTF-16")) Some("UTF-16")
          else if (d.encoding.startsWith("UTF-32")) Some("UTF-32")
          else None
        auto match {
          case Some(cs) => reader.option("encoding", cs)
            .option("multiLine", true).csv(path)
          case None => reader.option("encoding", d.encoding).csv(path)
        }
      case _ => spark.read.text(path)
    }
    Loaded(s.format, df, s.csv)
  }

  /** A top-level JSON array, or a pretty-printed document spanning lines
    * (the reference's dual_payloads.json: one `{` object over many
    * lines), needs Spark's multiLine mode; JSON-lines must not use it.
    * Decided from the head: `[` always multiline; `{` multiline when the
    * first line is not itself a complete object. */
  private def isMultiline(spark: SparkSession, path: String): Boolean = {
    val head = Sniffer.readHead(spark, path)
    val t = new String(head, java.nio.charset.StandardCharsets.UTF_8)
      .dropWhile(_.isWhitespace)
    if (t.startsWith("[")) true
    else if (t.startsWith("{")) {
      val firstLine = t.linesIterator.nextOption().getOrElse("").trim
      !firstLine.endsWith("}")
    } else false
  }
}
