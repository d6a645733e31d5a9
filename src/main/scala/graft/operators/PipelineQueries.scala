package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data pipeline operators beyond the reference's own surface:
  * repetition-based quality signals (the Gopher filters), fixed-bin
  * histograms (the reference's np.histogram twin), and PII redaction
  * (the consumer of the labeler's regex family).
  *
  * Scale shape: all three are scan-dominant. `text_repetition` computes
  * its per-doc gram statistics INSIDE the row (codegen'd
  * `graft_gramstats`) and shuffles only the 20-key decile histogram;
  * `hist_fixed` is two passes (min/max, then a 20-key groupBy) — the
  * standard distributed histogram; `redact` is a pure codegen'd Column
  * expression chain, shuffling only per-label counters. None holds
  * unbounded state; all survive a 100× scale-up unchanged.
  */
object PipelineQueries extends QueryModule {

  // ------------------------------------------------------ text_repetition
  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1: "fraction
    * of characters in the most common n-gram" / "fraction of characters
    * in duplicated n-grams" — restated over gram counts): per document,
    * the fraction of word 2-grams taken by the most frequent 2-gram and
    * the fraction in any repeated 2-gram, bucketed to deciles so the
    * output is integer-exact (no cross-engine FP summation on the hash
    * path). Documents with fewer than two words drop out on both sides.
    *
    * Scale shape: the per-doc (n_g, top-gram count, dup-gram count)
    * triple is DOCUMENT-local, so it is computed inside the row by the
    * codegen'd `graft_gramstats` run-length expression
    * (functions/GramRepetition.scala) — no (doc_id, gram) exchange at
    * all. Both metric rows are emitted by one inline explode of the same
    * scan, so the only shuffle in the plan is the 2×10-key decile
    * histogram. */
  private def textRepetition(s: SparkSession, dir: String): DataFrame = {
    // <2-word docs are dropped AFTER the explode (null bucket), not by a
    // pre-filter on st[0]: a filter below the project would be pushed
    // under it and re-evaluate the gramstats sort per row just to test
    // the guard — this shape runs the expensive expression exactly once.
    val per = Tables.load(s, dir, "documents")
      .select(graft.functions.GramRepetition(
        filter(split(col("text"), " "), x => x =!= "")).as("st"))
      .select(col("st")(0).as("n_g"), col("st")(1).as("m"), col("st")(2).as("d"))
    per.select(explode(array(
        struct(lit("top2").as("metric"),
          when(col("n_g") >= 1, floor(col("m") * 10.0 / col("n_g")))
            .cast("long").as("bucket")),
        struct(lit("dup2").as("metric"),
          when(col("n_g") >= 1, floor(col("d") * 10.0 / col("n_g")))
            .cast("long").as("bucket")))).as("mb"))
      .select(col("mb.metric").as("metric"), col("mb.bucket").as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("metric", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("metric", "bucket")
  }

  private val textRepetitionSql =
    """WITH a AS (SELECT doc_id,
      |             list_filter(string_split(text, ' '), x -> x != '') AS arr
      |           FROM documents),
      |g AS (SELECT doc_id, arr[i+1] || ' ' || arr[i+2] AS g
      |      FROM a, unnest(range(0, len(arr)-1)) t(i)),
      |c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2),
      |p AS (SELECT doc_id, sum(cnt) AS n_g, max(cnt) AS m,
      |             coalesce(sum(cnt) FILTER (cnt > 1), 0) AS d
      |      FROM c GROUP BY 1),
      |b AS (SELECT 'top2' AS metric,
      |             CAST(floor(m * 10.0 / n_g) AS BIGINT) AS bucket FROM p
      |      UNION ALL
      |      SELECT 'dup2', CAST(floor(d * 10.0 / n_g) AS BIGINT) FROM p)
      |SELECT metric, bucket, count(*) AS n_docs
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------------- hist_fixed
  private val HistBins = 20

  /** np.histogram twin (the reference's plotting histogram,
    * histogram_utils.py / graph_profiler.py:528-577 both consume
    * fixed-bin counts): k equal-width bins over [min, max], last bin
    * right-INCLUSIVE (np's closed last edge, expressed as the
    * least(..., k-1) clamp). Two passes — a min/max agg broadcast into a
    * stateless bucket expression — which is the distributed histogram at
    * any scale: pass 1 is a 2-value reduce, pass 2 shuffles k keys.
    * Both engines evaluate the IDENTICAL arithmetic ((x-lo)*k/(hi-lo),
    * same operator order), so bucket boundaries agree bit-for-bit. */
  private def histFixed(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
    val mm = li.agg(min("x").as("lo"), max("x").as("hi"))
    val bucket = expr(s"least(floor((x - lo) * $HistBins.0 / (hi - lo)), ${HistBins - 1})")
      .cast("long")
    li.crossJoin(broadcast(mm))
      .select(bucket.as("bucket"), col("lo"), col("hi"))
      .groupBy("bucket", "lo", "hi")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        round(col("lo") + col("bucket") * (col("hi") - col("lo")) / lit(HistBins.toDouble), 6)
          .as("bin_lo"),
        col("n"))
      .orderBy("bucket")
  }

  private val histFixedSql =
    s"""WITH mm AS (SELECT min(l_extendedprice) AS lo,
       |                   max(l_extendedprice) AS hi FROM lineitem),
       |b AS (SELECT CAST(least(floor((l_extendedprice - lo) * $HistBins.0
       |                             / (hi - lo)), ${HistBins - 1}) AS BIGINT)
       |               AS bucket, lo, hi
       |      FROM lineitem, mm)
       |SELECT bucket,
       |  round(lo + bucket * (hi - lo) / $HistBins.0, 6) AS bin_lo,
       |  count(*) AS n
       |FROM b GROUP BY bucket, lo, hi ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- redact
  /** Unanchored redaction patterns — the free-text consumers of the
    * labeler's anchored cell rules (labelers/regex_model.py:20-306 is the
    * reference's pattern family). Kept in the Java-regex ∩ RE2 subset so
    * both engines match identically; applied in priority order on
    * progressively redacted text so earlier labels cannot be re-matched
    * by later, looser patterns. */
  private val RedactRules: Seq[(String, String)] = Seq(
    "EMAIL_ADDRESS" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "PHONE_NUMBER" -> "\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}",
    "CREDIT_CARD" -> "[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}",
    "SSN" -> "[0-9]{3}-[0-9]{2}-[0-9]{4}")

  /** Deterministic PII-bearing corpus from orders — every row carries an
    * email and phone, every 3rd an SSN, every 5th a spaced card number. */
  private def piiText(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").select(col("o_orderkey"), concat(
      lit("order "), col("o_orderkey").cast("string"),
      lit(" contact user"), col("o_custkey").cast("string"),
      lit("@example.com phone (303) 555-"),
      lpad((col("o_custkey") % 10000).cast("string"), 4, "0"),
      when(col("o_orderkey") % 3 === 0, concat(
        lit(" ssn "),
        ((col("o_custkey") * 7) % 900 + 100).cast("string"),
        lit("-"),
        lpad((col("o_custkey") % 90 + 10).cast("string"), 2, "0"),
        lit("-"),
        (col("o_custkey") % 9000 + 1000).cast("string"))).otherwise(lit("")),
      when(col("o_orderkey") % 5 === 0, lit(" card 4111 1111 1111 1111"))
        .otherwise(lit(""))).as("text"))

  /** PII redaction over free text: per-label match counts + affected-doc
    * counts on the ORIGINAL text (each label judged independently), plus
    * one row gating the actual chained replacement via the total
    * redacted-corpus length. Integer-only output. */
  private def redact(s: SparkSession, dir: String): DataFrame = {
    // the single-pass RedactScan expression computes all four counts on
    // the original text plus the chained-replacement length — the regex
    // formulation paid eight java.util.regex passes per row (the DuckDB
    // oracle still runs that formulation; RedactScanSpec property-checks
    // the char-walk against the regex chain)
    val t = piiText(s, dir)
      .select(graft.functions.RedactScan(col("text")).as("rs"))
      .select(RedactRules.zipWithIndex.map { case ((label, _), i) =>
        col("rs").getItem(i).as(s"${label}__c")
      } :+ col("rs").getItem(RedactRules.size).as("__redlen"): _*)
    val aggs = RedactRules.flatMap { case (label, _) =>
      val c = col(s"${label}__c")
      Seq(
        sum(c).as(s"${label}__m"),
        sum(when(c > 0, 1L).otherwise(0L)).as(s"${label}__d"))
    } ++ Seq(
      sum(col("__redlen")).as("REDACTED_CHARS__m"),
      count(lit(1)).as("REDACTED_CHARS__d"))
    val labels = RedactRules.map(_._1) :+ "REDACTED_CHARS"
    val stackArgs = labels
      .map(l => s"'$l', `${l}__m`, `${l}__d`").mkString(", ")
    t.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"stack(${labels.size}, $stackArgs) AS (label, n_matches, n_docs)"))
      .orderBy("label")
  }

  private val redactSql = {
    val textSql =
      """'order ' || CAST(o_orderkey AS VARCHAR)
        | || ' contact user' || CAST(o_custkey AS VARCHAR)
        | || '@example.com phone (303) 555-'
        | || lpad(CAST(o_custkey % 10000 AS VARCHAR), 4, '0')
        | || CASE WHEN o_orderkey % 3 = 0 THEN ' ssn '
        |      || CAST((o_custkey * 7) % 900 + 100 AS VARCHAR) || '-'
        |      || lpad(CAST(o_custkey % 90 + 10 AS VARCHAR), 2, '0') || '-'
        |      || CAST(o_custkey % 9000 + 1000 AS VARCHAR)
        |    ELSE '' END
        | || CASE WHEN o_orderkey % 5 = 0 THEN ' card 4111 1111 1111 1111'
        |    ELSE '' END""".stripMargin.replace("\n", "")
    val redactedSql = RedactRules.foldLeft("text") { case (e, (label, pat)) =>
      s"regexp_replace($e, '${pat.replace("'", "''")}', '[$label]', 'g')"
    }
    val rows = RedactRules.map { case (label, pat) =>
      val p = pat.replace("'", "''")
      s"""SELECT '$label' AS label,
         |  CAST(sum(len(regexp_extract_all(text, '$p'))) AS BIGINT)
         |    AS n_matches,
         |  CAST(sum(CASE WHEN len(regexp_extract_all(text, '$p')) > 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
         |FROM t""".stripMargin
    } :+
      s"""SELECT 'REDACTED_CHARS',
         |  CAST(sum(length($redactedSql)) AS BIGINT),
         |  CAST(count(*) AS BIGINT)
         |FROM t""".stripMargin
    s"""WITH t AS (SELECT $textSql AS text FROM orders)
       |${rows.mkString("", "\nUNION ALL\n", "")}
       |ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------- sample_stratified
  private val StratCap = 10

  /** Deterministic stratified sampling for corpus balancing: per
    * language stratum, keep the `StratCap` docs ranked by
    * md5(doc_id) — a content-free deterministic permutation, so the
    * "sample" is reproducible on any engine and any partitioning (what
    * `TABLESAMPLE` can never promise). One window over the stratum key:
    * shuffles (lang) once; at 100 TB the rank prunes map-side first via
    * the same top-k-per-key pattern as win_topn (Spark plans
    * row_number+filter as a partial top-k sort). */
  private def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.load(s, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= StratCap)
      .select(col("lang"), col("rk").cast("long").as("rk"), col("doc_id"))
      .orderBy("lang", "rk")
  }

  private val sampleStratifiedSql =
    s"""SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
       |FROM (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |      FROM documents)
       |WHERE rk <= $StratCap ORDER BY lang, rk""".stripMargin

  // --------------------------------------------------------- shard_assign
  private val NumShards = 8

  /** Training-data sharding: assign every doc to one of `NumShards`
    * output shards by a stable content-independent hash of its id
    * (md5 here for the oracle; xxhash64 is the scale twin of the same
    * shape) and report per-shard balance — the check a 100 TB write
    * runs before `df.repartition(shard).write`. Map-only assignment +
    * an 8-key groupBy. */
  private def shardAssign(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy((conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long") % NumShards).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      .orderBy("shard")

  private val shardAssignSql =
    s"""SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |         AS BIGINT) % $NumShards AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS chars
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------- decontaminate
  private val DecontGram = 5

  /** Benchmark decontamination (the GPT-3/PaLM n-gram overlap check):
    * an "eval set" (every 10th doc) contributes its distinct word
    * 5-grams; a training doc sharing ANY gram with the eval set is
    * contaminated. Shape: the gram build is one codegen'd
    * `graft_wordgrams` pass (no interpreted HOF chain); eval grams
    * distinct → BROADCAST (real eval sets are tiny next to the corpus),
    * training grams probe it with a map-side broadcast SEMI join — the
    * scan never shuffles the training grams. Contamination hits are
    * RARE by construction (that is what the operator verifies), so the
    * (doc, gram) dedup the pair counts need is deferred to AFTER the
    * semi join: only the hit pairs — output-scale, not corpus-scale —
    * ever cross an exchange. The only 100 TB-viable plan. Output is one
    * integer summary row. */
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val grams = d
      .select(col("doc_id"), explode(graft.functions.WordGrams(
        col("text"), DecontGram, 1, dedup = false)).as("g"))
    val ev = grams.filter(col("doc_id") % 10 === 0).select("g").distinct()
    val hits = grams.filter(col("doc_id") % 10 =!= 0)
      .join(broadcast(ev), Seq("g"), "left_semi")
      .distinct()
    val sides = d.agg(
      coalesce(sum(when(col("doc_id") % 10 === 0, 1L).otherwise(0L)), lit(0L)).as("n_eval"),
      coalesce(sum(when(col("doc_id") % 10 =!= 0, 1L).otherwise(0L)), lit(0L)).as("n_train"))
    sides.crossJoin(
      hits.agg(count_distinct(col("doc_id")).as("n_contaminated"),
        count(lit(1)).as("n_hit_pairs")))
  }

  /** Scale twin of [[decontaminate]]: the eval-gram membership test as a
    * BLOOM FILTER probe instead of a broadcast hash semi-join. The
    * sketch is built by one bounded aggregation over the eval grams
    * (fixed nBits regardless of eval-set size), collected as a single
    * binary value, and probed MAP-SIDE with `might_contain` — no join,
    * no shuffle of training grams at all. This is the shape for eval
    * suites whose gram set outgrows a hash-join build side (a broadcast
    * hash set of 10⁸ grams is tens of GB; the Bloom sketch at the same
    * scale is fixed MBs). False positives flag extra training docs as
    * contaminated — the safe direction for decontamination — so this is
    * benched, not oracle-gated; [[decontaminate]] verifies the exact
    * semantics of the shared gram pipeline. */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val grams = d
      .select(col("doc_id"), explode(graft.functions.WordGrams(
        col("text"), DecontGram, 1, dedup = false)).as("g"))
    val sketch = grams.filter(col("doc_id") % 10 === 0)
      .select(xxhash64(col("g")).as("h"))
      .agg(graft.functions.BloomMembership
        .agg(col("h"), 200000L, 1600000L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // pair dedup deferred to AFTER the sketch probe, same rare-hit
    // argument as [[decontaminate]]: only (bloom-passed) candidate
    // pairs ever shuffle
    val hits = grams.filter(col("doc_id") % 10 =!= 0)
      .filter(graft.functions.BloomMembership
        .contains(lit(sketch), xxhash64(col("g"))))
      .distinct()
    val sides = d.agg(
      coalesce(sum(when(col("doc_id") % 10 === 0, 1L).otherwise(0L)), lit(0L)).as("n_eval"),
      coalesce(sum(when(col("doc_id") % 10 =!= 0, 1L).otherwise(0L)), lit(0L)).as("n_train"))
    sides.crossJoin(
      hits.agg(count_distinct(col("doc_id")).as("n_contaminated"),
        count(lit(1)).as("n_hit_pairs")))
  }

  private val decontaminateSql =
    s"""WITH tok AS (SELECT doc_id,
       |               list_filter(string_split(text, ' '), x -> x != '') AS arr
       |             FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |        list_reduce(arr[i+1:i+$DecontGram], (a, b) -> a || ' ' || b) AS g
       |      FROM tok, unnest(range(0, len(arr)-${DecontGram - 1})) t(i)
       |      WHERE len(arr) >= $DecontGram),
       |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
       |hits AS (SELECT t.doc_id FROM g t JOIN ev USING (g)
       |         WHERE t.doc_id % 10 != 0)
       |SELECT
       |  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_eval,
       |  (SELECT count(*) FROM documents WHERE doc_id % 10 != 0) AS n_train,
       |  count(DISTINCT doc_id) AS n_contaminated,
       |  count(*) AS n_hit_pairs
       |FROM hits""".stripMargin

  // ---------------------------------------------------------- zorder_layout
  /** Z-order layout clustering — the multi-dimensional data-layout op
    * behind Delta/Iceberg OPTIMIZE ZORDER: min-max-normalize two scan
    * dimensions to 16 bits, bit-interleave them into a Morton code, and
    * assign each row to a fixed-width z-range (top 5 bits → 32 file
    * buckets, a pure map-side assignment). The census reports each
    * bucket's min/max span over BOTH dimensions — the per-file statistics
    * a reader prunes on; tight spans on both axes at once are the whole
    * point of Z over a lexicographic sort.
    *
    * At scale the write path is `repartitionByRange(zval)` +
    * `sortWithinPartitions` (one range-exchange); this census gates the
    * Morton math and the resulting span structure with integer-exact
    * arithmetic shared verbatim by both engines. */
  private val ZBits = 16
  private val ZBuckets = 32

  /** Morton interleave of two [[ZBits]]-bit ints as one SQL expression —
    * the same rendered text runs in Spark and DuckDB. */
  private def mortonExpr(a: String, b: String): String =
    (0 until ZBits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  private def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val maxes = li.agg(
      max("l_partkey").as("max_pk"), max("l_suppkey").as("max_sk"))
    val z = li.select(col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(maxes))
      .withColumn("za",
        expr(s"(l_partkey * ${1 << ZBits}) div (max_pk + 1)"))
      .withColumn("zb",
        expr(s"(l_suppkey * ${1 << ZBits}) div (max_sk + 1)"))
      .withColumn("zval", expr(mortonExpr("za", "zb")))
      .withColumn("bucket",
        expr(s"zval >> ${2 * ZBits - 5}")) // top 5 bits -> 32 z-ranges
    z.groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
        min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"))
      .orderBy("bucket")
  }

  private val zorderLayoutSql = {
    val morton = mortonExpr("za", "zb")
    s"""WITH m AS (
       |  SELECT max(l_partkey) AS max_pk, max(l_suppkey) AS max_sk
       |  FROM lineitem),
       |z AS (
       |  SELECT l_partkey, l_suppkey,
       |    ($morton) >> ${2 * ZBits - 5} AS bucket
       |  FROM (
       |    SELECT l_partkey, l_suppkey,
       |      (l_partkey * ${1 << ZBits}) // (max_pk + 1) AS za,
       |      (l_suppkey * ${1 << ZBits}) // (max_sk + 1) AS zb
       |    FROM lineitem CROSS JOIN m) t)
       |SELECT bucket, count(*) AS n,
       |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
       |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ------------------------------------------------------ partition_prune
  /** PARTITION-PRUNED layout scan — the Hive-style directory-layout half
    * of the storage story (zorder_layout is the intra-file half): the
    * events table is written ONCE partitioned by event-time day
    * (`write.partitionBy`, a Stage.fixture so re-runs never pay), then
    * read back with a day predicate. Catalyst resolves the predicate
    * against the PARTITION column at file-listing time — non-matching
    * day directories are never even opened, the physical scan carries
    * it as `PartitionFilters` with an empty data-filter set, and
    * PlanInvariantsSpec pins exactly that shape. Date partitioning is
    * the first layout knob every 100 TB pipeline turns; this gates that
    * it PRUNES here rather than degenerate to a full-scan filter.
    * Census: per-day rows + value sum over the first [[PruneDays]]
    * days. */
  private val PruneDays = 3
  private val DayMicros = 86400L * 1000000L

  private def partitionPrune(s: SparkSession, dir: String): DataFrame = {
    val withDay = Tables.load(s, dir, "events")
      .withColumn("day", expr(s"unix_micros(ts) div $DayMicros"))
    val stage = graft.Stage.fixture("partition_prune", dir) { tmp =>
      withDay.write.partitionBy("day").parquet(tmp.toString)
    }.toString
    // the cut day becomes a LITERAL in the plan (a cheap ts-column-only
    // scan of the raw table), so pruning is static, not a runtime
    // subquery — the shape a daily-incremental job has anyway. An EMPTY
    // events table yields a null min (any literal keeps the result
    // empty-correct) and an explicit read schema (an empty partitioned
    // dir has no files to infer from).
    val minRow = Tables.load(s, dir, "events")
      .agg(min(expr(s"unix_micros(ts) div $DayMicros"))).collect()(0)
    val minDay = if (minRow.isNullAt(0)) 0L else minRow.getLong(0)
    s.read.schema(withDay.schema).parquet(stage)
      .filter(col("day") < minDay + PruneDays)
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("day")
  }

  private val partitionPruneSql =
    s"""WITH d AS (
       |  SELECT epoch_us(ts) // $DayMicros AS day, value FROM events),
       |m AS (SELECT min(day) AS d0 FROM d)
       |SELECT CAST(day AS BIGINT) AS day, count(*) AS n,
       |  round(sum(value), 2) AS sum_value
       |FROM d, m WHERE day < d0 + $PruneDays
       |GROUP BY day ORDER BY day""".stripMargin

  // --------------------------------------------------------- kanon_census
  private val KanonThresholds = Seq(2L, 5L, 10L, 25L, 1000000L)
  private val KanonBalBucket = 1000.0

  /** k-anonymity / l-diversity census (Sweeney 2002; Machanavajjhala et
    * al. 2007) — the re-identification-risk report a governance step runs
    * BEFORE releasing a structured table, sibling to `redact`'s
    * unstructured-PII pass. Quasi-identifier = (c_nationkey,
    * floor(c_acctbal/1000)); sensitive attribute = c_mktsegment. Rows in
    * small QI equivalence classes are re-identifiable; classes whose
    * sensitive value is HOMOGENEOUS leak the attribute even when k is
    * met. For each threshold k the census reports the classes below k,
    * the rows inside them (the suppression cost of publishing with
    * k-anonymity), and the below-k classes that are also homogeneous
    * (the worst cells: small AND attribute-disclosing). The top
    * threshold exceeds any class size, so its row carries the global
    * totals.
    *
    * Scale shape: the distinct-sensitive count is computed as a CASCADED
    * aggregate — groupBy(QI, sensitive) then groupBy(QI) — not
    * countDistinct inside the first agg, which would plan an Expand
    * (duplicating every input row per aggregate) ahead of the shuffle.
    * Both levels partial-aggregate map-side; the threshold explode runs
    * on the class frame only, whose size is bounded by the QI-domain
    * product, never the row count. One QI-key exchange + two bounded
    * ones at any scale. */
  private def kanonCensus(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(s, dir, "customer")
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / KanonBalBucket).cast("long").as("bal_b"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("c"))
    val classes = cells.groupBy("c_nationkey", "bal_b")
      .agg(sum("c").as("sz"), count(lit(1)).as("l"))
    classes
      .select(col("sz"), col("l"),
        explode(typedLit(KanonThresholds)).as("k"))
      .filter(col("sz") < col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_classes_below"),
        sum("sz").as("n_rows_below"),
        sum(when(col("l") === 1L, 1L).otherwise(0L)).as("n_homog_below"))
      .orderBy("k")
  }

  private val kanonCensusSql = {
    val ks = KanonThresholds.mkString(", ")
    s"""WITH cells AS (
       |  SELECT c_nationkey, CAST(floor(c_acctbal / $KanonBalBucket) AS BIGINT) AS bal_b,
       |         c_mktsegment, count(*) AS c
       |  FROM customer GROUP BY 1, 2, 3),
       |classes AS (
       |  SELECT c_nationkey, bal_b, CAST(sum(c) AS BIGINT) AS sz,
       |         count(*) AS l
       |  FROM cells GROUP BY 1, 2)
       |SELECT CAST(k AS BIGINT) AS k, count(*) AS n_classes_below,
       |  CAST(sum(sz) AS BIGINT) AS n_rows_below,
       |  CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_homog_below
       |FROM classes, (SELECT unnest([$ks]) AS k) t
       |WHERE sz < k
       |GROUP BY k ORDER BY k""".stripMargin
  }

  // ----------------------------------------------------------- dp_release
  private val DpEps = 1.0
  private val DpClip = 10000.0

  /** Differentially-private release (Dwork et al. 2006, the Laplace
    * mechanism) — the ACTION sibling of `kanon_census`'s risk report:
    * publish per-nation customer counts and balance sums with calibrated
    * noise instead of suppressing small cells. Counts use sensitivity 1;
    * sums clip each balance to ±`DpClip` first (the standard bounded-
    * contribution step that CAPS any one row's influence and so defines
    * the sum's sensitivity). Per-stat ε = `DpEps`, so the release costs
    * 2ε total by sequential composition.
    *
    * Determinism: the Laplace draw inverts the CDF on a uniform derived
    * from md5(stat-tag ‖ nationkey) — the same engine-independent
    * md5-uniform as `sample_weighted` — offset +0.5/2^32 so u ∈ (0,1)
    * strictly (u = 0 would hit ln(0)) and can never equal 0.5 exactly
    * (sign(u−0.5) is always ±1). Every arithmetic step up to the final
    * `ln` is exact IEEE on identical bits in both engines; the release
    * rounds 4 dp so a last-ulp libm difference cannot flip the compare.
    * A seeded release is replayable — rerunning the job cannot burn
    * privacy budget by emitting a fresh draw for the same cell.
    *
    * Scale shape: the noise is applied map-side on the POST-aggregate
    * frame (one row per nation), so the mechanism adds zero exchanges to
    * the underlying census: one partial-agg'd groupBy at any scale. The
    * balance sum aggregates exact integer cents (a long), never a
    * float-summation order dependence. */
  private def dpRelease(s: SparkSession, dir: String): DataFrame = {
    def u01(tag: String): Column =
      (conv(substring(md5(concat(lit(tag),
        col("c_nationkey").cast("string"))), 1, 8), 16, 10)
        .cast("long").cast("double") + 0.5) / lit(4294967296.0)
    def lap(b: Double, u: Column): Column = {
      val v = u - 0.5
      -lit(b) * signum(v) * log(lit(1.0) - lit(2.0) * abs(v))
    }
    Tables.load(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n"),
        sum(round(least(greatest(col("c_acctbal"), lit(-DpClip)), lit(DpClip))
          * 100).cast("long")).as("cents"))
      .select(col("c_nationkey"),
        round(col("n") + lap(1.0 / DpEps, u01("count|")), 4).as("noisy_n"),
        round(col("cents") / 100.0 +
          lap(DpClip / DpEps, u01("sum|")), 4).as("noisy_sum_bal"))
      .orderBy("c_nationkey")
  }

  private val dpReleaseSql = {
    def u01(tag: String) =
      s"""(CAST(CAST(concat('0x', substr(md5(concat('$tag',
         |    CAST(c_nationkey AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE)
         |    + 0.5) / 4294967296.0""".stripMargin
    def lap(b: String, u: String) =
      s"-($b) * sign(($u) - 0.5) * ln(1 - 2 * abs(($u) - 0.5))"
    s"""WITH g AS (
       |  SELECT c_nationkey, count(*) AS n,
       |    CAST(sum(CAST(round(least(greatest(c_acctbal, -$DpClip),
       |      $DpClip) * 100) AS BIGINT)) AS BIGINT) AS cents
       |  FROM customer GROUP BY 1)
       |SELECT c_nationkey,
       |  round(n + ${lap(s"1.0 / $DpEps", u01("count|"))}, 4) AS noisy_n,
       |  round(cents / 100.0 +
       |    ${lap(s"$DpClip / $DpEps", u01("sum|"))}, 4) AS noisy_sum_bal
       |FROM g ORDER BY 1""".stripMargin
  }

  override val qs: Seq[Q] = Seq(
    Q("text_repetition", textRepetition, Some(textRepetitionSql)),
    Q("hist_fixed", histFixed, Some(histFixedSql)),
    Q("redact", redact, Some(redactSql)),
    Q("sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    Q("shard_assign", shardAssign, Some(shardAssignSql)),
    Q("decontaminate", decontaminate, Some(decontaminateSql)),
    Q("zorder_layout", zorderLayout, Some(zorderLayoutSql)),
    Q("partition_prune", partitionPrune, Some(partitionPruneSql)),
    Q("kanon_census", kanonCensus, Some(kanonCensusSql)),
    Q("dp_release", dpRelease, Some(dpReleaseSql)))
}
