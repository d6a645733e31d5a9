package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The reference space/time harness's 7-column frame
  * (structured_space_time_analysis.py:260-272): datetime strings, ints in
  * ±1e6, floats in ±1e6 rounded to 3 significant figures, categories A–E,
  * ascending ints, text of 256–1000 chars and strings of 1–256 chars.
  *
  * Rows are drawn per partition from `Random(seed, partition)`, so a seed
  * gives the same rows at any core count. Partition `p` holds rows
  * `[p * rowsPer, (p + 1) * rowsPer)`, which keeps `ordered` ascending
  * across partitions and files. */
object Gen {

  val schema: StructType = StructType(Seq(
    StructField("datetime", StringType),
    StructField("integer", LongType),
    StructField("float", DoubleType),
    StructField("categorical", StringType),
    StructField("ordered", LongType),
    StructField("text", StringType),
    StructField("string", StringType)))

  val categories: Seq[String] = Seq("A", "B", "C", "D", "E")

  private val Alnum =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
  private val Epoch2000 = 946684800L
  private val Span25y = 25L * 365 * 86400

  def roundSig3(x: Double): Double =
    if (x == 0.0) 0.0
    else {
      val mag = math.pow(10, math.floor(math.log10(math.abs(x))) - 2)
      math.round(x / mag) * mag
    }

  private def text(r: java.util.Random, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    while (sb.length < len) {
      if (sb.length > 0) sb.append(' ')
      val w = 1 + r.nextInt(10)
      var i = 0
      while (i < w) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    }
    sb.setLength(len)
    sb.toString
  }

  private def alnum(r: java.util.Random, len: Int): String = {
    val cs = new Array[Char](len)
    var i = 0
    while (i < len) { cs(i) = Alnum.charAt(r.nextInt(Alnum.length)); i += 1 }
    new String(cs)
  }

  def rows(seed: Long, part: Int, rowsPer: Int): Iterator[Row] = {
    val r = new java.util.Random(seed * 1000003L + part)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    Iterator.tabulate(rowsPer) { i =>
      val ts = java.time.Instant.ofEpochSecond(
        Epoch2000 + (r.nextDouble() * Span25y).toLong)
      Row(fmt.format(ts),
        r.nextInt(2000001).toLong - 1000000L,
        roundSig3((r.nextDouble() * 2 - 1) * 1e6),
        categories(r.nextInt(categories.size)),
        part.toLong * rowsPer + i,
        text(r, 256 + r.nextInt(745)),
        alnum(r, 1 + r.nextInt(256)))
    }
  }

  /** Write `files` parquet files of `rowsPer` rows each under `dir`,
    * named `part-NNNNN.parquet` in row order; returns their paths. Row
    * groups are capped at 4 MB so a single file still splits across
    * cores. */
  def write(spark: SparkSession, dir: Path, seed: Long, files: Int,
      rowsPer: Int): Seq[Path] = {
    val rdd = spark.sparkContext.parallelize(0 until files, files)
      .mapPartitionsWithIndex((p, _) => rows(seed, p, rowsPer))
    val staging = dir.resolve("staging")
    spark.createDataFrame(rdd, schema).write.mode("overwrite")
      .option("parquet.block.size", (4 << 20).toString)
      .parquet(staging.toString)
    val parts = Files.list(staging).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    require(parts.length == files,
      s"expected $files parquet parts under $staging, found ${parts.length}")
    val out = parts.zipWithIndex.map { case (p, i) =>
      Files.move(p, dir.resolve(f"part-$i%05d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Main.deleteTree(staging)
    out.toSeq
  }
}
