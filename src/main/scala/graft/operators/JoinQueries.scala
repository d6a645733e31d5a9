package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational join operators (SURVEY §2.3 north-star additions): broadcast
  * equi-join chains, semi/anti joins, a genuine range (non-equi) join, and
  * an as-of join built from a union + window.
  *
  * Scale shape: dimension sides (customer/supplier/nation/part
  * projections, the quarter dim, the as-of marker union) are broadcast or
  * tiny; the single large shuffle in each plan is keyed on the join key of
  * the fact table, and every aggregation is partial map-side first. The
  * as-of join avoids the classic per-row point-lookup by sorting once per
  * user partition — the 100 TB plan is shuffle-on-user_id + one sort,
  * which AQE handles skew for.
  */
object JoinQueries extends QueryModule {

  // --------------------------------------------------------- join_pricing
  /** TPC-H Q3-flavored 3-table chain: revenue by market segment. The
    * customer projection (2 cols) broadcasts; orders⋈lineitem shuffles on
    * the order key only. */
  private def joinPricing(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val l = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_items"),
        countDistinct("o_orderkey").as("n_orders"),
        round(sum("rev"), 2).as("revenue"))
      .orderBy("c_mktsegment")
  }

  private val joinPricingSql =
    """SELECT c_mktsegment, count(*) AS n_items,
      |  count(DISTINCT o_orderkey) AS n_orders,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ join_semi
  /** Left-semi: nations of suppliers with at least one returned ('R')
    * lineitem. The semi-join never materializes lineitem columns. */
  private def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.load(s, dir, "supplier")
    val nat = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
    val lR = Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R").select("l_suppkey")
    sup.join(lR, sup("s_suppkey") === lR("l_suppkey"), "left_semi")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_suppliers"))
      .orderBy("n_name")
  }

  private val joinSemiSql =
    """SELECT n_name, count(*) AS n_suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ join_anti
  /** Left-anti: customers with no 1995 order, per market segment. */
  private def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995).select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  // NOT EXISTS (not NOT IN): a NULL o_custkey would make NOT IN return
  // zero rows while left_anti keeps all non-matching customers.
  private val joinAntiSql =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND year(o.o_orderdate) = 1995)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------- join_range
  private val NQuarters = 28 // 1995Q1 .. 2001Q4

  /** Range (non-equi) join: lineitem ship dates against a generated
    * quarter dimension. Spark broadcasts the 28-row dim and evaluates the
    * BETWEEN as a nested-loop over the broadcast — the correct plan shape
    * for interval dims at any fact size. */
  private def joinRange(s: SparkSession, dir: String): DataFrame = {
    val quarters = s.range(NQuarters).select(
      col("id").cast("int").as("q_idx"),
      add_months(to_date(lit("1995-01-01")), col("id").cast("int") * 3)
        .as("q_start"),
      add_months(to_date(lit("1995-01-01")), col("id").cast("int") * 3 + 3)
        .as("q_end"))
    val l = Tables.load(s, dir, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_d"),
        col("l_extendedprice").as("price"))
    l.join(broadcast(quarters),
        col("ship_d") >= col("q_start") && col("ship_d") < col("q_end"))
      .groupBy("q_idx")
      .agg(count(lit(1)).as("n_items"), round(sum("price"), 2).as("sum_price"))
      .orderBy("q_idx")
  }

  private val joinRangeSql =
    s"""WITH quarters AS (
       |  SELECT CAST(i AS INT) AS q_idx,
       |    DATE '1995-01-01' + (i * 3) * INTERVAL 1 MONTH AS q_start,
       |    DATE '1995-01-01' + (i * 3 + 3) * INTERVAL 1 MONTH AS q_end
       |  FROM range(0, $NQuarters) t(i))
       |SELECT q_idx, count(*) AS n_items,
       |  round(sum(l_extendedprice), 2) AS sum_price
       |FROM lineitem JOIN quarters
       |  ON CAST(l_shipdate AS DATE) >= q_start
       | AND CAST(l_shipdate AS DATE) < q_end
       |GROUP BY q_idx ORDER BY q_idx""".stripMargin

  // ------------------------------------------------------------ join_asof
  /** As-of join: each purchase event matched to the latest strictly
    * earlier click by the same user. Implemented Spark-first as a union
    * with a marker column + one window pass (`last(click_id) ignoreNulls`
    * over preceding rows) — one shuffle on user_id, one sort, no per-row
    * probe. Ties (equal ts) order purchases first so a same-instant click
    * does NOT match, matching the oracle's strict `c.ts < p.ts` ASOF. */
  private def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("is_click"),
        col("event_id").as("click_id"), lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("is_click"),
        lit(null).cast("long").as("click_id"), col("event_id").as("purchase_id"))
    // At equal ts the purchase (is_click=0) sorts before the click, so the
    // preceding-rows frame excludes same-instant clicks.
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("is_click").asc, col("click_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    clicks.unionAll(purchases)
      .withColumn("prev_click_ts",
        last(when(col("is_click") === 1, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_click") === 0)
      .agg(
        count(lit(1)).as("n_purchases"),
        cntL(col("prev_click_ts").isNotNull).as("n_matched"),
        round(avg(
          (unix_micros(col("ts")) - unix_micros(col("prev_click_ts")))
            .cast("double") / 1e6), 3).as("avg_gap_sec"))
  }

  // coalesced like graft.functions.cnt: count 0 (not NULL) over 0 rows
  private def cntL(pred: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))

  private val joinAsofSql =
    """SELECT count(*) AS n_purchases,
      |  CAST(count(c.ts) AS BIGINT) AS n_matched,
      |  round(avg(date_diff('microsecond', c.ts, p.ts) / 1e6), 3) AS avg_gap_sec
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.ts < p.ts""".stripMargin

  // ------------------------------------------------------------ join_salted
  /** Oracle gate for the skew-salted join helper
    * ([[graft.functions.SkewJoin.saltedJoin]]): lineitem joins supplier
    * through the salted path (big side gets a uniform random sub-key,
    * small side replicates ×salt, shuffle keyed on (key, salt)) and the
    * per-nation revenue rollup must equal the PLAIN join the DuckDB
    * oracle computes — salting must never change equi-join semantics,
    * only spread a hot key across reducers. */
  private def joinSalted(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
    val su = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.functions.SkewJoin.saltedJoin(li, su, "suppkey", salt = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("s_nationkey")
  }

  private val joinSaltedSql =
    """SELECT s_nationkey, count(*) AS n,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ------------------------------------------------------------ cdc_merge
  /** CDC MERGE (upsert + delete) — incremental table maintenance, the
    * operation every periodically-refreshed 100 TB corpus table needs:
    * apply a change batch (inserts / updates / delete tombstones) to a
    * base snapshot in one pass. The change batch is synthesized
    * DETERMINISTICALLY from the corpus itself (updates: custkey%10=3
    * gets +100 balance; deletes: custkey%13=4; inserts: suppliers
    * re-keyed above the customer key space), so both engines build the
    * identical batch.
    *
    * Shape: one full-outer equi-join on the key — the MERGE INTO plan a
    * table format (Delta/Iceberg) executes underneath — then a CASE
    * resolves each row to insert/update/delete/carry. At scale both
    * sides shuffle on the key once (or zero times if the table is
    * bucketed on it); nothing is rewritten except joined partitions.
    * Census: per-outcome row counts + the merged balance total. */
  private def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    val updates = base.filter(col("key") % 10 === 3)
      .select(col("key"), (col("bal") + 100.0).as("new_bal"),
        lit("U").as("op"))
    val deletes = base.filter(col("key") % 13 === 4)
      .select(col("key"), lit(null).cast("double").as("new_bal"),
        lit("D").as("op"))
    // insert keys re-based ABOVE the live key space, derived in-query
    // (a fixed constant offset silently collides with base keys once
    // the scale factor pushes c_custkey past it — and because both
    // engines would share the constant, the oracle gate could never
    // catch the misclassification)
    val maxKey = broadcast(base.agg(max(col("key")).as("mk")))
    val inserts = Tables.load(s, dir, "supplier")
      .crossJoin(maxKey)
      .select((col("s_suppkey") + col("mk")).as("key"),
        col("s_acctbal").as("new_bal"), lit("I").as("op"))
    // one change row per key: delete tombstone wins over update (min op
    // letter: D < I < U — a deterministic conflict rule)
    val changes = updates.unionByName(deletes).unionByName(inserts)
      .groupBy("key")
      .agg(min(struct(col("op"), col("new_bal"))).as("c"))
      .select(col("key"), col("c.op").as("op"), col("c.new_bal").as("new_bal"))
    val merged = base.join(changes, Seq("key"), "full_outer")
      .withColumn("outcome",
        when(col("op") === "D", "deleted")
          .when(col("op") === "U", "updated")
          .when(col("op") === "I", "inserted")
          .otherwise("carried"))
      .withColumn("out_bal",
        when(col("outcome") === "deleted", lit(null).cast("double"))
          .when(col("outcome").isin("updated", "inserted"), col("new_bal"))
          .otherwise(col("bal")))
    merged.groupBy("outcome")
      .agg(
        count(lit(1)).as("n"),
        round(sum("out_bal"), 2).as("sum_bal"))
      .orderBy("outcome")
  }

  private val cdcMergeSql =
    """WITH base AS (
      |  SELECT c_custkey AS key, c_acctbal AS bal FROM customer),
      |changes AS (
      |  SELECT key, op, new_bal FROM (
      |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY op) AS rn
      |    FROM (
      |      SELECT key, bal + 100.0 AS new_bal, 'U' AS op FROM base
      |      WHERE key % 10 = 3
      |      UNION ALL
      |      SELECT key, CAST(NULL AS DOUBLE), 'D' FROM base WHERE key % 13 = 4
      |      UNION ALL
      |      SELECT s_suppkey + (SELECT max(key) FROM base), s_acctbal, 'I'
      |      FROM supplier) u) r
      |  WHERE rn = 1),
      |merged AS (
      |  SELECT CASE WHEN c.op = 'D' THEN 'deleted'
      |              WHEN c.op = 'U' THEN 'updated'
      |              WHEN c.op = 'I' THEN 'inserted'
      |              ELSE 'carried' END AS outcome,
      |    CASE WHEN c.op = 'D' THEN NULL
      |         WHEN c.op IN ('U', 'I') THEN c.new_bal
      |         ELSE b.bal END AS out_bal
      |  FROM base b FULL OUTER JOIN changes c USING (key))
      |SELECT outcome, count(*) AS n, round(sum(out_bal), 2) AS sum_bal
      |FROM merged GROUP BY outcome ORDER BY outcome""".stripMargin

  // ------------------------------------------------------------ bucket_join
  /** BUCKETED fact-to-fact join — the co-location story as a first-class
    * gated operator (sources/Bucketing.scala held the util; this runs
    * it): both join sides are written ONCE bucketed+sorted on the join
    * key (8 buckets, a Stage.fixture — the shuffle is paid at write time),
    * and the recurring join then plans with ZERO exchanges below the
    * SortMergeJoin (PlanInvariantsSpec pins that). A fresh session
    * re-attaches the existing bucket files through `CREATE TABLE IF NOT
    * EXISTS ... CLUSTERED BY ... LOCATION` — catalog metadata only, no
    * data movement. This is the 100 TB answer to a fact⋈fact join that
    * runs every day: dimension joins broadcast, recurring big joins
    * bucket. Census: per-priority order counts + revenue. */
  private val BjBuckets = 8

  private def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Bucketing
    val root = graft.Stage.fixture("bucket_join", dir) { tmp =>
      Bucketing.withScratchTable(s)(Bucketing.writeBucketed(
        Tables.load(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        _, tmp.resolve("lineitem").toString, "l_orderkey", BjBuckets))
      Bucketing.withScratchTable(s)(Bucketing.writeBucketed(
        Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        _, tmp.resolve("orders").toString, "o_orderkey", BjBuckets))
    }
    val liPath = root.resolve("lineitem").toString
    val ordPath = root.resolve("orders").toString
    val liTbl = s"graft_bj_li_${root.getFileName}"
    val ordTbl = s"graft_bj_ord_${root.getFileName}"
    // attach by DDL (idempotent, metadata-only), then re-list the files:
    // a rebuilt fixture has new files at the same location
    s.sql(s"""CREATE TABLE IF NOT EXISTS $liTbl
             |(l_orderkey BIGINT, l_extendedprice DOUBLE)
             |USING PARQUET CLUSTERED BY (l_orderkey)
             |SORTED BY (l_orderkey) INTO $BjBuckets BUCKETS
             |LOCATION '$liPath'""".stripMargin.replace('\n', ' '))
    s.sql(s"""CREATE TABLE IF NOT EXISTS $ordTbl
             |(o_orderkey BIGINT, o_orderpriority STRING)
             |USING PARQUET CLUSTERED BY (o_orderkey)
             |SORTED BY (o_orderkey) INTO $BjBuckets BUCKETS
             |LOCATION '$ordPath'""".stripMargin.replace('\n', ' '))
    Seq(liTbl, ordTbl).foreach(s.catalog.refreshTable)
    s.table(liTbl)
      .join(s.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val bucketJoinSql =
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------- fuzzy_match
  private val FuzzyKeyCap = 30000L

  /** Blocked fuzzy join — entity resolution / record linkage (Fellegi &
    * Sunter 1969; the blocking-key design from Christen 2012): match
    * DIRTY query strings back to a clean directory without the
    * quadratic all-pairs distance scan. The directory synthesizes one
    * unique 9-letter name per customer (digit→letter over the REVERSED
    * zero-padded key, so low digits lead and the 4-char blocking prefix
    * distributes uniformly instead of collapsing onto shared zero
    * padding); queries take every `% 7 = 3` key under the cap and
    * DELETE one character at position 5 + key%4 — past the blocking
    * prefix, so candidate recall is 100 % BY CONSTRUCTION and the
    * census's matching numbers measure the verify stage, not blocking
    * luck. Candidates = equi-join on the prefix; verify = exact
    * `levenshtein ≤ 1`. The census reports queries, candidate pairs
    * checked (the blocking cost), matched queries, self-matches (found
    * their own record) and ambiguous queries (>1 directory hit).
    *
    * Scale shape: the capped query side broadcasts; the directory never
    * shuffles (map-side broadcast-hash probe per directory partition);
    * per-query aggregates are bounded by the query cap. The expensive
    * primitive — levenshtein — runs only on candidate pairs, whose
    * count is |queries| × (directory/blocks): linear in the directory,
    * never quadratic. */
  private def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    def nameOf(key: Column): Column =
      translate(reverse(lpad(key.cast("string"), 9, "0")),
        "0123456789", "abcdefghij")
    val directory = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("dir_key"), nameOf(col("c_custkey")).as("name"))
    val k = col("c_custkey")
    val nameC = nameOf(k)
    // delete the char at pos = 5 + k%4 (always past the blocking prefix)
    val qname = concat(
      nameC.substr(lit(1), (k % 4 + 4).cast("int")),
      nameC.substr((k % 4 + 6).cast("int"), lit(9)))
    val queries = Tables.load(s, dir, "customer")
      .filter(k % 7 === 3 && k < FuzzyKeyCap)
      .select(k.as("q_key"), qname.as("qname"))
    val verified = directory
      .join(broadcast(queries),
        substring(col("name"), 1, 4) === substring(col("qname"), 1, 4))
      .withColumn("dist", levenshtein(col("qname"), col("name")))
    val perQuery = verified.groupBy("q_key")
      .agg(count(lit(1)).as("n_cand"),
        cntL(col("dist") <= 1).as("n_hits"),
        cntL(col("dist") <= 1 && col("dir_key") === col("q_key"))
          .as("n_self"))
    perQuery.agg(
      count(lit(1)).as("n_queries"),
      sum("n_cand").as("n_cand_pairs"),
      cntL(col("n_hits") >= 1).as("n_matched"),
      cntL(col("n_self") >= 1).as("n_self_matched"),
      cntL(col("n_hits") >= 2).as("n_ambiguous"),
      round(sum("n_cand").cast("double") / count(lit(1)), 6)
        .as("avg_cand_per_query"))
  }

  private val fuzzyMatchSql = {
    val name = "translate(reverse(lpad(CAST(c_custkey AS VARCHAR), 9, '0')), " +
      "'0123456789', 'abcdefghij')"
    s"""WITH directory AS (
       |  SELECT c_custkey AS dir_key, $name AS name FROM customer),
       |queries AS (
       |  SELECT c_custkey AS q_key,
       |    substr($name, 1, CAST(c_custkey % 4 + 4 AS INT)) ||
       |    substr($name, CAST(c_custkey % 4 + 6 AS INT), 9) AS qname
       |  FROM customer
       |  WHERE c_custkey % 7 = 3 AND c_custkey < $FuzzyKeyCap),
       |verified AS (
       |  SELECT q_key, dir_key, levenshtein(qname, name) AS dist
       |  FROM directory JOIN queries
       |    ON substr(name, 1, 4) = substr(qname, 1, 4)),
       |per_query AS (
       |  SELECT q_key, count(*) AS n_cand,
       |    CAST(sum(CASE WHEN dist <= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hits,
       |    CAST(sum(CASE WHEN dist <= 1 AND dir_key = q_key
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_self
       |  FROM verified GROUP BY 1)
       |SELECT count(*) AS n_queries,
       |  CAST(sum(n_cand) AS BIGINT) AS n_cand_pairs,
       |  CAST(sum(CASE WHEN n_hits >= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_matched,
       |  CAST(sum(CASE WHEN n_self >= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_self_matched,
       |  CAST(sum(CASE WHEN n_hits >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_ambiguous,
       |  round(CAST(sum(n_cand) AS DOUBLE) / count(*), 6)
       |    AS avg_cand_per_query
       |FROM per_query""".stripMargin
  }

  override val qs: Seq[Q] = Seq(
    Q("fuzzy_match", fuzzyMatch, Some(fuzzyMatchSql)),
    Q("join_pricing", joinPricing, Some(joinPricingSql)),
    Q("join_semi", joinSemi, Some(joinSemiSql)),
    Q("join_anti", joinAnti, Some(joinAntiSql)),
    Q("join_range", joinRange, Some(joinRangeSql)),
    Q("join_asof", joinAsof, Some(joinAsofSql)),
    Q("join_salted", joinSalted, Some(joinSaltedSql)),
    Q("bucket_join", bucketJoin, Some(bucketJoinSql)),
    Q("cdc_merge", cdcMerge, Some(cdcMergeSql)))
}
