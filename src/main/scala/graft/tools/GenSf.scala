package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: reproduces the driver testdata's
  * schemas and value domains (TESTDATA.md; distributions measured off
  * sf0.1) at larger scale factors, so the bench + oracle suite can run
  * at sf1+ without touching the read-only driver dirs. NOT a copy of
  * the driver's generator — only the shapes matter, because every
  * correctness check compares Spark vs DuckDB over the SAME files.
  *
  * Determinism: all randomness is hash-derived from row ids (xxhash64 /
  * sin), never `rand()` — output is identical across runs and partition
  * layouts. Each table lands as a single `name.parquet` FILE (DuckDB
  * reads files, not directories) with 16 MB row groups so Spark can
  * still split scans.
  *
  * Usage: runMain graft.tools.GenSf <outDir> <multiplier>
  * (multiplier 10 ≈ sf1: 6M lineitem rows.)
  */
object GenSf {

  /** Uniform [0,1) double derived from id + stream tag. */
  private def u(id: org.apache.spark.sql.Column, tag: Int) =
    (pmod(xxhash64(id, lit(tag)), lit(1000000L)).cast("double") / 1e6)

  def main(args: Array[String]): Unit = {
    val Array(outDir, multS) = args
    val mult = multS.toDouble
    val spark = graft.GraftSession(graft.GraftSession.envCpus(default = 8))
    new java.io.File(outDir).mkdirs()

    val nCust = (15000 * mult).toLong
    val nSupp = (1000 * mult).toLong
    val nPart = (20000 * mult).toLong
    val nOrders = (150000 * mult).toLong
    val nEvents = (100000 * mult).toLong
    val nUsers = (1500 * mult).toLong
    val nDocs = (5000 * mult).toLong
    val nVecs = (2000 * mult).toLong

    def one(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/.stage_$name"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 16 * 1024 * 1024)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$outDir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[gen] $name: ${df.count()} rows")
    }

    // ---- dims ----------------------------------------------------------
    val regions = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))
    import spark.implicits._
    one(regions.toDF("r_regionkey", "r_name"), "region")
    one(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey")), "nation")

    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    one(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(xxhash64(col("id"), lit(11)), lit(25)).cast("int")
        .as("c_nationkey"),
      round(lit(-1000.0) + u(col("id"), 12) * 11000.0, 2).as("c_acctbal"),
      element_at(segs, (pmod(xxhash64(col("id"), lit(13)), lit(5)) + 1)
        .cast("int")).as("c_mktsegment")), "customer")

    one(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(xxhash64(col("id"), lit(21)), lit(25)).cast("int")
        .as("s_nationkey"),
      round(lit(-1000.0) + u(col("id"), 22) * 11000.0, 2).as("s_acctbal")),
      "supplier")

    val adjs = array(Seq("large", "hot", "blue", "small", "dark", "quick",
      "shiny", "cold").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "case", "drum", "gear", "pipe",
      "disk", "cable").map(lit): _*)
    val types = array(Seq("LARGE", "ECONOMY", "MEDIUM", "STANDARD", "PROMO",
      "SMALL").map(lit): _*)
    one(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        element_at(adjs, (pmod(xxhash64(col("id"), lit(31)), lit(8)) + 1)
          .cast("int")),
        element_at(nouns, (pmod(xxhash64(col("id"), lit(32)), lit(8)) + 1)
          .cast("int"))).as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(col("id"), lit(33)), lit(20)) + 1)).as("p_brand"),
      element_at(types, (pmod(xxhash64(col("id"), lit(34)), lit(6)) + 1)
        .cast("int")).as("p_type"),
      (pmod(xxhash64(col("id"), lit(35)), lit(50)) + 1).cast("int")
        .as("p_size"),
      round(lit(900.0) + pmod(xxhash64(col("id"), lit(36)), lit(1000))
        .cast("double") / 10.0, 2).as("p_retailprice")), "part")

    // ---- facts ---------------------------------------------------------
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    val statuses = array(Seq("F", "O", "P").map(lit): _*)
    val ordersDf = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(41)), lit(nCust)).as("o_custkey"),
      element_at(statuses, (pmod(xxhash64(col("id"), lit(42)), lit(3)) + 1)
        .cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + u(col("id"), 43) * 499000.0, 2).as("o_totalprice"),
      (lit("1995-01-01").cast("timestamp") +
        make_dt_interval(pmod(xxhash64(col("id"), lit(44)), lit(2404))))
        .as("o_orderdate"),
      element_at(prios, (pmod(xxhash64(col("id"), lit(45)), lit(5)) + 1)
        .cast("int")).as("o_orderpriority"))
    one(ordersDf, "orders")

    // ~4.07 lines/order: 1 + hash%7 averages 4
    val rf = array(Seq("A", "N", "R").map(lit): _*)
    val ls = array(Seq("O", "F").map(lit): _*)
    val li = spark.range(nOrders)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1),
          (pmod(xxhash64(col("id"), lit(51)), lit(7)) + 1).cast("int")))
          .as("l_linenumber"))
    val liK = xxhash64(col("l_orderkey"), col("l_linenumber"))
    one(li.select(
      col("l_orderkey"),
      pmod(xxhash64(liK, lit(52)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(liK, lit(53)), lit(nSupp)).as("l_suppkey"),
      col("l_linenumber"),
      (pmod(xxhash64(liK, lit(54)), lit(50)) + 1).cast("double")
        .as("l_quantity"),
      round(lit(900.0) + pmod(xxhash64(liK, lit(55)), lit(1041000))
        .cast("double") / 10.0, 2).as("l_extendedprice"),
      round(pmod(xxhash64(liK, lit(56)), lit(11)).cast("double") / 100.0, 2)
        .as("l_discount"),
      round(pmod(xxhash64(liK, lit(57)), lit(9)).cast("double") / 100.0, 2)
        .as("l_tax"),
      element_at(rf, (pmod(xxhash64(liK, lit(58)), lit(3)) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(ls, (pmod(xxhash64(liK, lit(59)), lit(2)) + 1).cast("int"))
        .as("l_linestatus"),
      (lit("1995-01-01").cast("timestamp") +
        make_dt_interval(pmod(xxhash64(liK, lit(60)), lit(2500))))
        .as("l_shipdate")), "lineitem")

    // events: ts emitted as NANOS LONG (the driver writes TIMESTAMP(NANOS);
    // tools/gen_sf.py converts the column so DuckDB sees the same type)
    val types5 = array(Seq("click", "view", "purchase", "signup", "error")
      .map(lit): _*)
    val baseMicros = lit(1704067200000000L) // 2024-01-01 UTC
    one(spark.range(nEvents).select(
      col("id").as("event_id"),
      ((baseMicros + (u(col("id"), 61) * 30.0 * 86400.0 * 1e6)
        .cast("long")) * 1000).as("ts"),
      pmod(xxhash64(col("id"), lit(62)), lit(nUsers)).as("user_id"),
      element_at(types5, (pmod(xxhash64(col("id"), lit(63)), lit(5)) + 1)
        .cast("int")).as("event_type"),
      round(-log(greatest(u(col("id"), 64), lit(1e-9))) * 50.0, 2)
        .as("value"),
      concat(lit("{\"k\": "),
        pmod(xxhash64(col("id"), lit(65)), lit(100)), lit("}")).as("props")),
      "events")

    // documents: 30-word vocab, 8..105 words, ~1/625 exact-dup pairs and
    // a sprinkle of 'dup'-marked near-dups — same shapes the dedup
    // queries see in the driver data
    val vocab = array(Seq("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter",
      "big", "group", "hash", "customer", "sort", "order", "slow", "line",
      "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
      "batch").map(lit): _*)
    val langs = array(Seq("en", "en", "en", "en", "zh", "es", "fr", "de")
      .map(lit): _*)
    val seed = when(pmod(col("id"), lit(625)) === 1, col("id") - 1)
      .otherwise(col("id"))
    val nWords = (pmod(xxhash64(seed, lit(71)), lit(98)) + 8).cast("int")
    val baseText = concat_ws(" ", transform(
      sequence(lit(1), nWords),
      j => element_at(vocab,
        (pmod(xxhash64(seed, lit(72), j), lit(30)) + 1).cast("int"))))
    val text = when(pmod(xxhash64(seed, lit(73)), lit(150)) === 0,
      concat(baseText, lit(" dup dup"))).otherwise(baseText)
    one(spark.range(nDocs).select(
      col("id").as("doc_id"),
      text.as("text"),
      element_at(langs, (pmod(xxhash64(col("id"), lit(74)), lit(8)) + 1)
        .cast("int")).as("lang"),
      concat(lit("src"), pmod(xxhash64(col("id"), lit(75)), lit(20)))
        .as("source"),
      length(text).cast("long").as("n_chars")), "documents")

    // embeddings: 64-dim unit vectors in 10 label clusters (centroid by
    // sin basis + hash noise, normalized exactly)
    val label = pmod(xxhash64(col("id"), lit(81)), lit(10)).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), j =>
      sin(label.cast("double") * 7.3 + j.cast("double") * 0.61) * 3.0 +
        (pmod(xxhash64(col("id"), lit(82), j), lit(2000)).cast("double")
          / 1000.0 - 1.0))
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    one(spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      label.as("label")), "embeddings")

    spark.stop()
  }
}
