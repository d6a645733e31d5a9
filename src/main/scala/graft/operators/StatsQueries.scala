package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.cnt

/** Table-level statistics (SURVEY §2.4): Pearson correlation matrix,
  * chi-square homogeneity matrix, and null-replication metrics — the
  * reference's cross-column passes (profile_builder.py:2299-2788)
  * re-expressed as fused single-scan aggregations.
  *
  * Scale shape: the correlation matrix is one `agg` of k·(k−1)/2 `corr`
  * expressions over one scan (no per-pair jobs); the chi² matrix is one
  * tiny groupBy per table pair whose margins come from window sums over
  * the already-aggregated contingency cells; null replication is plain
  * conditional aggregation — none of these grow state with row count.
  */
object StatsQueries extends QueryModule {

  // ------------------------------------------------------------ corr_matrix
  private val corrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Pearson correlation for every numeric column pair of lineitem in ONE
    * aggregation pass (the reference mean-imputes then pools batches,
    * profile_builder.py:2299-2551; full-data mode needs no imputation on
    * this corpus). */
  private def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val pairs = corrCols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    }
    val stackArgs = pairs
      .map { case (a, b) => s"'$a', '$b', `${a}__$b`" }.mkString(", ")
    li.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)"))
      .orderBy("col_a", "col_b")
  }

  private val corrMatrixSql = corrCols.combinations(2).map { case Seq(a, b) =>
    s"""SELECT '$a' AS col_a, '$b' AS col_b,
       |  round(corr($a, $b), 6) AS corr FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")

  // ------------------------------------------------------------ chi2_matrix
  private val chi2Pairs: Seq[(String, String, String)] = Seq(
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("events", "event_type", "props"))

  /** Chi-square statistic per categorical column pair: contingency counts
    * via one groupBy, margins via window sums over the (tiny) cell table,
    * then Σ (o−e)²/e. The p-value is driver math over this statistic (the
    * reference calls scipy.chi2; Commons Math's ChiSquaredDistribution is
    * the JVM twin) — the oracle verifies the distributed part. */
  private def chi2Matrix(s: SparkSession, dir: String): DataFrame =
    chi2Pairs.map { case (t, a, b) =>
      val cells = Tables.load(s, dir, t)
        .groupBy(col(a).as("va"), col(b).as("vb"))
        .agg(count(lit(1)).cast("double").as("o"))
      // windows run over `cells` = the contingency table (category ×
      // category, bounded by the categorical stop-condition), not rows —
      // the unpartitioned total is over that same bounded frame
      val withMargins = cells
        .withColumn("row_tot", sum("o").over(
          org.apache.spark.sql.expressions.Window.partitionBy("va")))
        .withColumn("col_tot", sum("o").over(
          org.apache.spark.sql.expressions.Window.partitionBy("vb")))
        .withColumn("n", sum("o").over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      withMargins
        .select(
          (pow(col("o") - col("row_tot") * col("col_tot") / col("n"), 2) /
            (col("row_tot") * col("col_tot") / col("n"))).as("term"),
          col("va"), col("vb"))
        .agg(
          round(sum("term"), 6).as("chi2"),
          ((countDistinct("va") - 1) * (countDistinct("vb") - 1))
            .cast("long").as("dof"))
        .select(lit(s"$a|$b").as("pair"), col("chi2"), col("dof"))
    }.reduce(_ unionAll _).orderBy("pair")

  private val chi2MatrixSql = chi2Pairs.map { case (t, a, b) =>
    s"""SELECT '$a|$b' AS pair, round(sum(term), 6) AS chi2,
       |  CAST((count(DISTINCT va) - 1) * (count(DISTINCT vb) - 1) AS BIGINT)
       |    AS dof
       |FROM (
       |  SELECT va, vb,
       |    pow(o - row_tot * col_tot / n, 2) / (row_tot * col_tot / n) AS term
       |  FROM (
       |    SELECT va, vb, o,
       |      sum(o) OVER (PARTITION BY va) AS row_tot,
       |      sum(o) OVER (PARTITION BY vb) AS col_tot,
       |      sum(o) OVER () AS n
       |    FROM (SELECT $a AS va, $b AS vb, CAST(count(*) AS DOUBLE) AS o
       |          FROM $t GROUP BY 1, 2) cells) m) terms""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY pair")

  // ----------------------------------------------------------- null_replica
  /** Null-replication metrics (profile_builder.py:2589-2788): class priors
    * and class-conditional means of the other numeric columns, conditioned
    * on a column's null flag. The corpus has no physical nulls at these
    * SFs, so a deterministic mask (event_id % 7 = 0) stands in — the
    * operator shape (single-pass conditional aggregates, no groupBy
    * shuffle of raw rows) is what scales. */
  private def nullReplication(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .withColumn("v", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
    val isN = col("v").isNull
    ev.agg(
      count(lit(1)).as("n"),
      cnt(isN).as("n_null"),
      round(try_divide(cnt(isN).cast("double"), count(lit(1))), 6).as("prior_null"),
      round(avg(when(isN, col("user_id"))), 6).as("mean_user_given_null"),
      round(avg(when(!isN, col("user_id"))), 6).as("mean_user_given_notnull"),
      // cast to double BEFORE round so the rendered value carries a decimal
      // point exactly like DuckDB's round()-returns-DOUBLE (r2 hash fix)
      round(sum(when(isN, col("event_id"))).cast("double"), 2)
        .as("sum_eid_given_null"),
      round(sum(when(!isN, col("event_id"))).cast("double"), 2)
        .as("sum_eid_given_notnull"))
  }

  private val nullReplicationSql =
    """SELECT count(*) AS n,
      |  count(*) FILTER (v IS NULL) AS n_null,
      |  round(count(*) FILTER (v IS NULL) / CAST(count(*) AS DOUBLE), 6)
      |    AS prior_null,
      |  round(avg(user_id) FILTER (v IS NULL), 6) AS mean_user_given_null,
      |  round(avg(user_id) FILTER (v IS NOT NULL), 6)
      |    AS mean_user_given_notnull,
      |  round(sum(event_id) FILTER (v IS NULL), 2) AS sum_eid_given_null,
      |  round(sum(event_id) FILTER (v IS NOT NULL), 2)
      |    AS sum_eid_given_notnull
      |FROM (SELECT event_id, user_id,
      |        CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      |      FROM events) t""".stripMargin

  // ---------------------------------------------------------------- set_ops
  /** UNION / INTERSECT / EXCEPT over customer key sets of adjacent order
    * years (SURVEY §2.7 north-star): one row of cardinalities.
    *
    * Set algebra as ONE plan: a single scan groups by customer into two
    * membership flags, then conditional counts derive all five
    * cardinalities — one shuffle keyed on o_custkey, no driver-side
    * orchestration (the r2 version ran five separate count() jobs). */
  private def setOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val flags = o
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy("o_custkey")
      .agg(
        max(when(year(col("o_orderdate")) === 1995, 1).otherwise(0)).as("inA"),
        max(when(year(col("o_orderdate")) === 1996, 1).otherwise(0)).as("inB"))
    flags.agg(
      cnt(col("inA") === 1).as("n_1995"),
      cnt(col("inB") === 1).as("n_1996"),
      count(lit(1)).as("n_union"),
      cnt(col("inA") === 1 && col("inB") === 1).as("n_intersect"),
      cnt(col("inA") === 1 && col("inB") === 0).as("n_except"))
  }

  private val setOpsSql =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE year(o_orderdate) = 1995),
      |     b AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE year(o_orderdate) = 1996)
      |SELECT (SELECT count(*) FROM a) AS n_1995,
      |  (SELECT count(*) FROM b) AS n_1996,
      |  (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b) u)
      |    AS n_union,
      |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b) i)
      |    AS n_intersect,
      |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b) e)
      |    AS n_except""".stripMargin

  // ------------------------------------------------------------ rollup_stats
  /** Hierarchical corpus rollup — the (source, lang) doc/byte census at
    * every aggregation level in ONE pass via ROLLUP: leaf cells, per-source
    * subtotals, and the grand total, tagged by `grouping_id`. This is the
    * data-card table every corpus release ships, and the grouping-sets
    * family is the right way to produce it at 100 TB: Catalyst expands the
    * rollup into a single Expand + one partial-agg'd shuffle (3 rows per
    * input row pre-combine, not 3 scans), so the cost is one corpus scan
    * regardless of how many levels the hierarchy has. */
  private def rollupStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    docs.rollup(col("source"), col("lang"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        round(avg("n_chars"), 4).as("avg_chars"))
      .select(
        coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("gid"), col("n_docs"), col("n_chars"), col("avg_chars"))
      .orderBy("gid", "source", "lang")
  }

  private val rollupStatsSql =
    """SELECT coalesce(source, 'ALL') AS source,
      |  coalesce(lang, 'ALL') AS lang,
      |  GROUPING(source, lang) AS gid,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  round(avg(n_chars), 4) AS avg_chars
      |FROM documents
      |GROUP BY ROLLUP(source, lang)
      |ORDER BY gid, source, lang""".stripMargin

  // ------------------------------------------------------------ pivot_matrix
  private val pivotLangs = Seq("de", "en", "es", "fr", "zh")

  /** PIVOT: the source × language doc-count matrix (the long (source,
    * lang) census turned wide — the contingency view analysts actually
    * read). The pivot value list is passed EXPLICITLY: with the values
    * known, Catalyst plans one scan + one partial-agg'd shuffle keyed on
    * source (each pivot cell is a conditional aggregate), instead of
    * spending a separate distinct-collect job discovering them — and the
    * output schema is deterministic, which is what a production pipeline
    * wants from a pivot at any scale. */
  private def pivotMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val wide = docs.groupBy("source")
      .pivot("lang", pivotLangs)
      .agg(count(lit(1)))
    // pivot cells with no backing rows are null; the census wants 0
    val filled = pivotLangs.foldLeft(wide)((d, l) =>
      d.withColumn(l, coalesce(col(l), lit(0L))))
    filled
      .withColumn("total", pivotLangs.map(col).reduce(_ + _))
      .orderBy("source")
  }

  private val pivotMatrixSql = {
    val cells = pivotLangs
      .map(l => s"count(*) FILTER (lang = '$l') AS \"$l\"")
      .mkString(",\n  ")
    s"""SELECT source,
       |  $cells,
       |  count(*) AS total
       |FROM documents
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------- skew_stats
  /** Join-key skew diagnostic — the report you read BEFORE deciding
    * whether a 100 TB join needs salting (functions/SkewJoin) or AQE
    * skew splitting: frequency distribution of the fact table's join
    * keys (l_suppkey), as top-key shares and the Gini coefficient of
    * the key-frequency distribution (0 = perfectly uniform keys,
    * → 1 = one hot key owns the table).
    *
    * Scale shape: ONE partial-agg'd shuffle builds the key-frequency
    * table; everything after (ranking, cumulative shares, Gini) windows
    * over that NDV-bounded table, never the fact rows. Gini uses the
    * rank formulation G = 2·Σ(i·f_i)/(n·Σf) − (n+1)/n over an exact
    * integer Σ(i·f_i), with ties broken by key for a cross-engine-
    * deterministic rank. */
  private def skewStats(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_suppkey").as("k"))
      .agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").asc, col("k").asc)
    val ranked = freq.withColumn("i", row_number().over(w))
    ranked.agg(
        count(lit(1)).as("n_keys"),
        sum("f").as("n_rows"),
        max("f").as("max_freq"),
        sum(col("i").cast("long") * col("f")).as("sif"))
      .crossJoin(broadcast(
        freq.orderBy(col("f").desc, col("k").asc).limit(10)
          .agg(sum("f").as("top10"))))
      .select(
        col("n_keys"), col("n_rows"), col("max_freq"),
        round(col("max_freq").cast("double") / col("n_rows"), 6)
          .as("top1_share"),
        round(col("top10").cast("double") / col("n_rows"), 6)
          .as("top10_share"),
        round(
          lit(2.0) * col("sif") / (col("n_keys") * col("n_rows"))
            - (col("n_keys") + lit(1L)).cast("double") / col("n_keys"), 6)
          .as("gini"))
  }

  private val skewStatsSql =
    """WITH freq AS (
      |  SELECT l_suppkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT f, row_number() OVER (ORDER BY f ASC, k ASC) AS i FROM freq),
      |agg AS (
      |  SELECT count(*) AS n_keys, CAST(sum(f) AS BIGINT) AS n_rows,
      |    max(f) AS max_freq, CAST(sum(i * f) AS BIGINT) AS sif
      |  FROM ranked),
      |t10 AS (
      |  SELECT CAST(sum(f) AS BIGINT) AS top10 FROM (
      |    SELECT f FROM freq ORDER BY f DESC, k ASC LIMIT 10) x)
      |SELECT n_keys, n_rows, max_freq,
      |  round(CAST(max_freq AS DOUBLE) / n_rows, 6) AS top1_share,
      |  round(CAST(top10 AS DOUBLE) / n_rows, 6) AS top10_share,
      |  round(CAST(2.0 AS DOUBLE) * sif / (n_keys * n_rows)
      |    - CAST(n_keys + 1 AS DOUBLE) / n_keys, 6) AS gini
      |FROM agg CROSS JOIN t10""".stripMargin

  // ----------------------------------------------------------- assoc_rules
  /** Association-rule mining, 2-itemsets (Agrawal & Srikant 1994 —
    * support / confidence / lift over market baskets): each order is a
    * basket of the distinct part BRANDS it touches; every brand pair
    * co-occurring in a basket is scored against the pair-independence
    * null. The bounded-domain item choice (25 brands) is the standard
    * first rollup a basket analysis runs — SKU-level pairs follow the
    * identical algebra with a support floor.
    *
    * Scale shape: a bounded item domain (≤ 64) makes every basket ONE
    * LONG — each order's items bit_or into a mask in a fully primitive
    * codegen'd HashAggregate (a collect_set basket build was MEASURED
    * 6.8 s vs this plan's class at sf1: object aggregates fall off the
    * hash path), and the corpus collapses map-side to the tiny
    * (mask, count) distinct-basket frame BEFORE any pair work. Pair,
    * item and total counts are all broadcast joins against that frame;
    * no corpus-sized shuffle after the one order-keyed mask agg, no
    * all-pairs join. SKU-level mining (unbounded domain) composes the
    * identical algebra from k-bit mask blocks or the collect_set form
    * with a support floor. Metrics derive from exact longs (one
    * correctly-rounded double division each, 6 dp). */
  private def assocRules(s: SparkSession, dir: String): DataFrame = {
    val cells = assocCells(s, dir).collect()
    assocFinish(s, cells)
  }

  /** The distributed part of assoc_rules as a plan-gateable frame —
    * PlanInvariantsSpec asserts it contains exactly ONE lineitem scan
    * (the r13 finding: the old three-consumer form re-materialized the
    * corpus aggregation). ≤ |items|²/2 + |items| + 1 result rows. */
  private[graft] def assocCells(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    // deterministic item→bit mapping: rank over the (tiny) brand domain
    val brandIdx = part.select(col("p_brand").as("item")).distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy("item")) - 1).cast("int"))
    val masks = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(brandIdx), col("p_brand") === col("item"))
      .select(col("o"), expr("shiftleft(CAST(1 AS BIGINT), idx)").as("bit"))
      .groupBy("o").agg(expr("bit_or(bit)").as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
    // ONE pass over the distinct-basket frame scores pairs, single items
    // AND the basket total together: the dim unions all three probe
    // kinds (ia = -1 ⇒ total row; ib = -1 ⇒ single item ia). The old
    // three-consumer form (pairs / itemCounts / nOrders off the same
    // `masks`) re-materialized the corpus aggregation — ReuseExchange
    // only deduped two of the subplans, a per-stage probe (now
    // graft.tools.Probe) measured two full 26-task corpus scans — and a
    // `.cache()` of `masks` measured WORSE (3.0 → 4.9 s: the frame is
    // ≈ one row per distinct basket, and three consumers re-paid
    // columnar deserialization on all of it).
    // The fused probe keeps one corpus scan, one expansion, and ≤
    // |items|²/2 + |items| + 1 result rows; the final 300-row rule
    // arithmetic is driver math on exact longs (same ops, same 6 dp
    // HALF_UP rounding as the old column expressions).
    val pairsDim = brandIdx.select(col("item").as("item_a"), col("idx").as("ia"))
      .crossJoin(brandIdx.select(col("item").as("item_b"), col("idx").as("ib")))
      .filter(col("item_a") < col("item_b"))
    val dim = pairsDim
      .unionByName(brandIdx.select(col("item").as("item_a"),
        lit(null).cast("string").as("item_b"),
        col("idx").as("ia"), lit(-1).as("ib")))
      .unionByName(brandIdx.sparkSession.range(1)
        .select(lit(null).cast("string").as("item_a"),
          lit(null).cast("string").as("item_b"),
          lit(-1).as("ia"), lit(-1).as("ib")))
    masks.crossJoin(broadcast(dim))
      .filter(expr("""ia = -1
        | OR (ib = -1 AND ((mask >> ia) & 1) = 1)
        | OR (((mask >> ia) & 1) = 1 AND ((mask >> ib) & 1) = 1)"""
        .stripMargin))
      .groupBy("item_a", "item_b").agg(sum("cnt").as("n"))
  }

  /** Driver-side 300-row rule arithmetic over the collected exact
    * longs (same ops, same rounding as the old column expressions). */
  private def assocFinish(s: SparkSession,
      cells: Array[org.apache.spark.sql.Row]): DataFrame = {
    // BigDecimal.valueOf (decimal string rep), not the exact binary
    // expansion: replicates Spark's round() bit-for-bit on knife edges
    def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val nOrders = cells.find(r => r.isNullAt(0) && r.isNullAt(1))
      .map(_.getLong(2)).getOrElse(0L)
    val itemC = cells.filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val rules = cells.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map { r =>
        val (a, b, nAb) = (r.getString(0), r.getString(1), r.getLong(2))
        val (cA, cB) = (itemC(a), itemC(b))
        (a, b, nAb,
          r6(nAb.toDouble / nOrders),
          r6(nAb.toDouble / cA),
          r6(nAb.toDouble * nOrders / (cA * cB)))
      }.sortBy(t => (t._1, t._2))
    import s.implicits._
    rules.toSeq
      .toDF("item_a", "item_b", "n_ab", "support", "confidence", "lift")
  }

  private val assocRulesSql =
    """WITH b AS (
      |  SELECT DISTINCT l_orderkey AS o, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT count(DISTINCT o) AS n_orders FROM b),
      |pc AS (SELECT item, count(*) AS c FROM b GROUP BY 1),
      |pr AS (SELECT x.item AS item_a, y.item AS item_b, count(*) AS n_ab
      |       FROM b x JOIN b y ON x.o = y.o AND x.item < y.item
      |       GROUP BY 1, 2)
      |SELECT item_a, item_b, n_ab,
      |  round(CAST(n_ab AS DOUBLE) / n_orders, 6) AS support,
      |  round(CAST(n_ab AS DOUBLE) / ca.c, 6) AS confidence,
      |  round(CAST(n_ab AS DOUBLE) * n_orders / (ca.c * cb.c), 6) AS lift
      |FROM pr
      |JOIN pc ca ON ca.item = pr.item_a
      |JOIN pc cb ON cb.item = pr.item_b
      |CROSS JOIN n
      |ORDER BY 1, 2""".stripMargin

  override val qs: Seq[Q] = Seq(
    Q("assoc_rules", assocRules, Some(assocRulesSql)),
    Q("corr_matrix", corrMatrix, Some(corrMatrixSql)),
    Q("chi2_matrix", chi2Matrix, Some(chi2MatrixSql)),
    Q("null_replication", nullReplication, Some(nullReplicationSql)),
    Q("set_ops", setOps, Some(setOpsSql)),
    Q("rollup_stats", rollupStats, Some(rollupStatsSql)),
    Q("pivot_matrix", pivotMatrix, Some(pivotMatrixSql)),
    Q("skew_stats", skewStats, Some(skewStatsSql)))
}
