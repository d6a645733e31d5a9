package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftData, Sniffer}

/** Sniffer fixtures mirror the reference's reader test corpus patterns
  * (tests/data/csv: tab/@ delimiters, headerless files, mislabeled
  * extensions, utf-16): format must be decided by CONTENT, options
  * inferred from the head only. */
class SnifferSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = Files.createDirectories(
    Paths.get("target/tmp/sniffer-fixtures"))

  private def write(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("comma CSV with header") {
    val p = write("plain.csv",
      "id,name,amount\n1,alice,10.5\n2,bob,20.25\n3,carol,30.0\n")
    val s = Sniffer.sniff(spark, p)
    assert(s.format == "csv")
    val d = s.csv.get
    assert(d.delimiter == ',' && d.hasHeader)
    val loaded = GraftData.load(spark, p)
    assert(loaded.df.count() == 3 && loaded.df.columns.contains("amount"))
  }

  test("CSV loads all-string in one scan (no inferSchema)") {
    // reference contract (csv_data.py:567-614): ingest is all-string,
    // typing is decided by the profilers — and the explicit schema means
    // Spark never runs the inferSchema second pass over the data
    val p = write("typed.csv",
      "id,when,amount\n1,2024-01-01,10.5\n2,2024-01-02,20.25\n")
    val loaded = GraftData.load(spark, p)
    assert(loaded.format == "csv")
    assert(loaded.df.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    assert(loaded.df.columns.toSeq == Seq("id", "when", "amount"))
    assert(loaded.df.count() == 2)
  }

  test("headerless CSV gets _cN all-string columns") {
    val p = write("noheader.csv", "1,10.5\n2,20.5\n3,30.5\n")
    val loaded = GraftData.load(spark, p)
    assert(loaded.df.columns.toSeq == Seq("_c0", "_c1"))
    assert(loaded.df.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
  }

  test("duplicate header names are deduped Spark-style") {
    val p = write("dupcols.csv", "a,A,b\n1,2,3\n4,5,6\n")
    val loaded = GraftData.load(spark, p)
    assert(loaded.df.columns.toSeq == Seq("a", "A_1", "b"))
    assert(loaded.df.count() == 2)
  }

  test("tab-delimited headerless file with txt extension") {
    val p = write("daily-activity.txt",
      "1\t2024-01-01\t10.5\n2\t2024-01-02\t20.5\n3\t2024-01-03\t30.5\n")
    val s = Sniffer.sniff(spark, p)
    assert(s.format == "csv")
    assert(s.csv.get.delimiter == '\t')
    assert(!s.csv.get.hasHeader)
    assert(GraftData.load(spark, p).df.count() == 3)
  }

  test("@-delimited CSV (exotic delimiter)") {
    val p = write("at-sheet.csv",
      "day@calories@steps\nmon@2000@9000\ntue@1800@11000\n")
    val s = Sniffer.sniff(spark, p)
    assert(s.format == "csv")
    assert(s.csv.get.delimiter == '@' && s.csv.get.hasHeader)
  }

  test("quoted delimiter inside cells does not break column counts") {
    val p = write("quoted.csv",
      "id,comment\n1,\"hello, world\"\n2,\"a, b, c\"\n3,plain\n")
    val s = Sniffer.sniff(spark, p)
    assert(s.format == "csv" && s.csv.get.delimiter == ',')
    assert(GraftData.load(spark, p).df.count() == 3)
  }

  test("parquet content with mislabeled .csv extension") {
    val src = Paths.get("/root/testdata/sf0.001/nation.parquet")
    val p = dir.resolve("mislabeled.csv")
    Files.copy(src, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val s = Sniffer.sniff(spark, p.toString)
    assert(s.format == "parquet")
    assert(GraftData.load(spark, p.toString).df.count() > 0)
  }

  test("a parquet file loads with its footer schema: inference's schema, without its job") {
    import org.apache.spark.sql.functions._
    // a Spark-written file, whose footer carries the Spark schema (field
    // metadata, nested and decimal types), plus the test tables
    val out = dir.resolve("spark-written").toString
    spark.range(5).select(col("id"),
        col("id").cast("decimal(12,3)").as("dec"),
        struct(col("id").as("a"), array(col("id")).as("b")).as("s"),
        map(col("id").cast("string"), col("id")).as("m"),
        timestamp_seconds(col("id")).as("ts"),
        col("id").cast("string").as("tagged", new org.apache.spark.sql.types.MetadataBuilder()
          .putString("note", "kept").build()))
      .coalesce(1).write.mode("overwrite").parquet(out)
    val written = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
    val tables = Files.list(Paths.get(SparkTestSession.sfDir)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && Files.isRegularFile(Paths.get(p))).toSeq
    assert(written.size == 1 && tables.nonEmpty)
    for (p <- written ++ tables) {
      val (loaded, census) = graft.obs.JobCensus.of(spark)(GraftData.load(spark, p))
      assert(loaded.format == "parquet", p)
      assert(census.jobs.isEmpty, s"$p: ${census.jobs.size} jobs")
      val inferred = spark.read.parquet(p)
      assert(loaded.df.schema == inferred.schema, p)
      assert(loaded.df.schema.json == inferred.schema.json, p)
      assert(loaded.df.collect().toSeq == inferred.collect().toSeq, p)
    }
  }

  test("JSON lines and JSON array") {
    val jl = write("rows.jsonl",
      "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"b\": \"y\"}\n")
    assert(Sniffer.sniff(spark, jl).format == "json")
    assert(GraftData.load(spark, jl).df.count() == 2)
    val ja = write("payload.json",
      "[{\"a\": 1, \"b\": \"x\"}, {\"a\": 2, \"b\": \"y\"}, {\"a\": 3, \"b\": \"z\"}]")
    assert(Sniffer.sniff(spark, ja).format == "json")
    assert(GraftData.load(spark, ja).df.count() == 3)
  }

  test("sampled JSON inference drops rare keys; the escape hatches recover them") {
    // The CONTRACT of sampled inference, pinned: a key rarer than the
    // sampling ratio is (likely) absent from the inferred schema and its
    // values silently null — this is the documented tradeoff above the
    // byte budget, and the reason JsonOptions carries two escape hatches.
    // The fixture makes the miss deterministic: fixed-seed Bernoulli line
    // sampling at ~0.8% over 20k lines with ONE line carrying the key.
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sb = new StringBuilder
    (0 until 20000).foreach { i =>
      if (i == 17000) sb.append(s"""{"a": $i, "rare": 7}""").append('\n')
      else sb.append(s"""{"a": $i}""").append('\n')
    }
    val p = write("rare_key.jsonl", sb.toString)
    val tiny = GraftData.JsonOptions(inferSampleBytes = 2048)
    val sampled = GraftData.load(spark, p, tiny).df
    assert(sampled.count() == 20000)
    assert(!sampled.columns.contains("rare"),
      s"fixture no longer pins the miss: ${sampled.columns.toSeq}")
    // escape hatch 1: full-parse inference (the reference's behavior)
    val full = GraftData.load(spark, p,
      tiny.copy(fullInference = true)).df
    assert(full.columns.contains("rare"))
    assert(full.where("rare = 7").count() == 1)
    // escape hatch 2: explicit schema — zero inference passes, the
    // lake-scale recommendation
    val sch = StructType(Seq(StructField("a", LongType),
      StructField("rare", LongType)))
    val explicit = GraftData.load(spark, p,
      GraftData.JsonOptions(schema = Some(sch),
        inferSampleBytes = 2048)).df
    assert(explicit.where("rare = 7").count() == 1)
    assert(explicit.schema == sch)
  }

  test("graph edge list via header keywords") {
    val p = write("edges.csv",
      "source,target,weight\n1,2,0.5\n2,3,0.7\n1,3,0.2\n")
    assert(Sniffer.sniff(spark, p).format == "graph")
  }

  test("prose text falls through to text") {
    val p = write("notes.txt",
      "This is a plain prose file.\nIt has no delimiters to speak of.\n" +
        "Just sentences across lines.\n")
    val s = Sniffer.sniff(spark, p)
    assert(s.format == "text")
    assert(GraftData.load(spark, p).df.count() == 3)
  }

  test("file:// URLs resolve through the front door") {
    val p = write("via-url.csv", "id,v\n1,2.5\n2,3.5\n")
    val abs = java.nio.file.Paths.get(p).toAbsolutePath
    val loaded = GraftData.load(spark, s"file://$abs")
    assert(loaded.format == "csv" && loaded.df.count() == 2)
  }

  test("avro magic beats extension") {
    val p = dir.resolve("payload.csv")
    Files.write(p, Array[Byte]('O', 'b', 'j', 1, 0, 0) ++
      "fakeavrobody".getBytes(StandardCharsets.UTF_8))
    assert(Sniffer.sniff(spark, p.toString).format == "avro")
  }

  test("nested JSON flattens to dotted leaf columns") {
    val p = write("nested.json",
      "{\"id\": 1, \"user\": {\"name\": \"al\", \"geo\": {\"lat\": 1.5, \"lon\": 2.5}}, \"tags\": [\"a\"]}\n" +
        "{\"id\": 2, \"user\": {\"name\": \"bo\", \"geo\": {\"lat\": 3.5, \"lon\": 4.5}}, \"tags\": []}\n")
    val loaded = GraftData.load(spark, p)
    assert(loaded.format == "json")
    val flat = graft.sources.Flatten.flatten(loaded.df)
    assert(flat.columns.toSet ==
      Set("id", "user.name", "user.geo.lat", "user.geo.lon", "tags"))
    assert(flat.count() == 2)
  }

  test("UTF-16 BOM detection and end-to-end load") {
    val p = dir.resolve("utf16.csv")
    val content = "id,name\n1,alice\n2,bob\n"
    val bytes = Array[Byte](0xFF.toByte, 0xFE.toByte) ++
      content.getBytes(StandardCharsets.UTF_16LE)
    Files.write(p, bytes)
    val s = Sniffer.sniff(spark, p.toString)
    assert(s.format == "csv")
    assert(s.csv.get.encoding == "UTF-16LE")
    // the LOAD must split lines on charset-encoded separators — the
    // byte-0x0A default would cut UTF-16 codepoints in half
    val df = GraftData.load(spark, p.toString).df
    assert(df.columns.toSeq == Seq("id", "name"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("1", "alice"), ("2", "bob")))
  }

  test("UTF-32 BOM is not misread as UTF-16 (iris-utf-32 pattern)") {
    // UTF-32LE's BOM FF FE 00 00 starts with UTF-16LE's FF FE
    val p = dir.resolve("utf32.csv")
    val content = "id,species\n1,setosa\n2,virginica\n3,versicolor\n"
    val bytes = Array[Byte](0xFF.toByte, 0xFE.toByte, 0, 0) ++
      content.getBytes(java.nio.charset.Charset.forName("UTF-32LE"))
    Files.write(p, bytes)
    val s = Sniffer.sniff(spark, p.toString)
    assert(s.format == "csv")
    assert(s.csv.get.encoding == "UTF-32LE")
    val df = GraftData.load(spark, p.toString).df
    assert(df.columns.toSeq == Seq("id", "species"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("1", "setosa"), ("2", "virginica"),
      ("3", "versicolor")))
  }

  test("single-quote dialect is inferred (daily-activity-@-singlequote pattern)") {
    val p = write("singlequote.csv",
      "time@activity@notes\n" +
        "06:00@'Breakfast @ home'@ok\n" +
        "07:30@'Potty + Diapers'@'non-primary parent'\n" +
        "08:00@Structured@''\n")
    val s = Sniffer.sniff(spark, p)
    assert(s.format == "csv")
    val d = s.csv.get
    assert(d.delimiter == '@' && d.quote == '\'')
    val df = GraftData.load(spark, p).df
    assert(df.columns.toSeq == Seq("time", "activity", "notes"))
    assert(df.count() == 3)
    // the quoted delimiter stayed inside one cell
    assert(df.filter(df("activity") === "Breakfast @ home").count() == 1)
  }

  test("space-delimited quoted file (quote-test.txt pattern)") {
    val p = write("quote-test.txt",
      "a b c\n\"d e f\" 1 2\nh i j\ng k l\n")
    val s = Sniffer.sniff(spark, p)
    assert(s.format == "csv")
    assert(s.csv.get.delimiter == ' ')
    val df = GraftData.load(spark, p).df
    assert(df.count() >= 3)
    // the quoted cell keeps its internal spaces
    assert(df.collect().exists(r => r.toSeq.contains("d e f")))
  }

  test("prose with consistent short lines still beats the space delimiter") {
    val p = write("notes2.txt",
      "Some words arranged here nicely.\nBut sentence lengths differ a lot " +
        "between lines.\nShort one.\n")
    assert(Sniffer.sniff(spark, p).format == "text")
  }

  test("pretty-printed single-object JSON loads in multiline mode (dual_payloads pattern)") {
    val p = write("dual_payloads.json",
      """{
        |  "data": {
        |    "list_of_things": [
        |      {"id": 1, "tags": ["a", "b"]},
        |      {"id": 2, "tags": ["c"]}
        |    ]
        |  },
        |  "payload_version": "v2"
        |}""".stripMargin)
    assert(Sniffer.sniff(spark, p).format == "json")
    val loaded = GraftData.load(spark, p)
    assert(loaded.format == "json")
    assert(loaded.df.count() == 1)
    val flat = graft.sources.Flatten.flatten(loaded.df)
    assert(flat.columns.contains("payload_version"))
    assert(flat.columns.exists(_.startsWith("data.list_of_things")))
  }

  test("empty file falls through to text and loads zero rows") {
    val p = write("empty.csv", "")
    val s = Sniffer.sniff(spark, p)
    assert(s.format == "text")
    assert(GraftData.load(spark, p).df.count() == 0)
  }
}
