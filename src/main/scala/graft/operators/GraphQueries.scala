package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.GraphProfiler

/** Graph profiling queries (SURVEY §2.9) over a deterministic bipartite
  * edge list derived from `customer`: src = c_custkey, dst = nation node
  * in a DISJOINT key space (negative ids: -1 - c_nationkey, collision-
  * free at any scale factor — a fixed positive offset would collide with
  * c_custkey once keys exceed it), with a continuous attribute
  * (c_acctbal) and a categorical one (c_mktsegment).
  *
  * The Spark side runs the REAL algorithms (iterative min-label CC, one
  * shuffle per round); the oracle exploits the known star-per-nation
  * structure to state the same numbers in closed form — so the check
  * verifies the algorithm's output, not its plan.
  */
object GraphQueries extends QueryModule {

  private def edges(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer").select(
      col("c_custkey").as("src"),
      (lit(-1L) - col("c_nationkey")).as("dst"),
      col("c_acctbal"), col("c_mktsegment"))

  // ------------------------------------------------------------ graph_stats
  private def graphStats(s: SparkSession, dir: String): DataFrame = {
    val st = GraphProfiler.stats(edges(s, dir))
    import s.implicits._
    val avgDeg = BigDecimal(st.avgDegree)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((st.numNodes, st.numEdges, avgDeg, st.nComponents, st.maxComponent))
      .toDF("num_nodes", "num_edges", "avg_degree", "n_components",
        "max_component")
  }

  private val graphStatsSql =
    """SELECT nc + nn AS num_nodes, nc AS num_edges,
      |  round(2.0 * nc / (nc + nn), 6) AS avg_degree,
      |  nn AS n_components,
      |  (SELECT max(c) + 1 FROM
      |    (SELECT count(*) AS c FROM customer GROUP BY c_nationkey) g)
      |    AS max_component
      |FROM (SELECT count(*) AS nc, count(DISTINCT c_nationkey) AS nn
      |      FROM customer) t""".stripMargin

  // ------------------------------------------------------------ graph_attrs
  /** Edge-attribute profiling: continuous-vs-categorical rule (any value
    * whose string form has a '.', graph_profiler.py:468-498), then
    * method-of-moments family fit for the continuous side. Two-pass
    * central moments keep the math identical across engines. */
  private def graphAttrs(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val means = e.agg(avg("c_acctbal").as("mu"))
    val mom = e.crossJoin(broadcast(means))
      .agg(
        count(lit(1)).cast("double").as("n"),
        avg(pow(col("c_acctbal") - col("mu"), 2)).as("m2"),
        avg(pow(col("c_acctbal") - col("mu"), 3)).as("m3"),
        avg(pow(col("c_acctbal") - col("mu"), 4)).as("m4"),
        first("mu").as("mu"))
      .select(
        col("n").cast("long").as("n"),
        round(col("mu"), 6).as("mean"),
        round(col("m2"), 4).as("variance"),
        round(col("m3") / pow(col("m2"), 1.5), 6).as("skew_b"),
        round(col("m4") / pow(col("m2"), 2) - 3.0, 6).as("kurt_b"))
      .collect()(0)
    val ndvSeg = e.agg(countDistinct("c_mktsegment")).collect()(0).getLong(0)
    // degenerate moments (zero variance → NaN skew/kurt in Spark, NULL
    // in DuckDB): both sides pin the fit to 'norm' rather than letting
    // NaN/NULL comparison semantics pick different families
    import s.implicits._
    // empty attribute frame: no moments exist. The SQL twin's moment CTE
    // yields zero rows there, so only the categorical row survives (with
    // NULL n from its scalar subquery) — mirror that exactly.
    if (mom.isNullAt(1))
      return Seq(("c_mktsegment", "categorical", Option.empty[Long],
        Some(ndvSeg), Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Double], Option.empty[String]))
        .toDF("attr", "kind", "n", "ndv", "mean", "variance", "skew_b",
          "kurt_b", "best_fit")
        .orderBy("attr")
    val skewB = mom.getDouble(3); val kurtB = mom.getDouble(4)
    val fit = if (skewB.isNaN || kurtB.isNaN) "norm"
      else GraphProfiler.bestFit(skewB, kurtB)
    Seq(
      ("c_acctbal", "continuous", mom.getLong(0), Option.empty[Long],
        Some(mom.getDouble(1)), Some(mom.getDouble(2)),
        Some(mom.getDouble(3)), Some(mom.getDouble(4)), Some(fit)),
      ("c_mktsegment", "categorical", mom.getLong(0), Some(ndvSeg),
        Option.empty[Double], Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[String]))
      .toDF("attr", "kind", "n", "ndv", "mean", "variance", "skew_b",
        "kurt_b", "best_fit")
      .orderBy("attr")
  }

  private val graphAttrsSql = {
    val fams = GraphProfiler.FitFamilies
    // per-family distance columns d0..dN computed once in a CTE (lognorm
    // reads the precomputed Cardano root `lw`), then the first-minimum
    // tie-break replicating Seq.minBy
    val distCols = fams.zipWithIndex.map { case (f, i) =>
      s"${f.sqlDist("skew_b", "kurt_b")} AS d$i"
    }.mkString(",\n    ")
    val names = fams.map(_.name)
    val chain = names.zipWithIndex.init.map { case (f, i) =>
      val rest = (i + 1 until names.size).map(j => s"d$i <= d$j")
      s"WHEN ${rest.mkString(" AND ")} THEN '$f'"
    }.mkString("CASE ", " ", s" ELSE '${names.last}' END")
    // degenerate guard mirroring the Spark side (see graphAttrs)
    val best = "CASE WHEN skew_b IS NULL OR isnan(skew_b) OR " +
      s"kurt_b IS NULL OR isnan(kurt_b) THEN 'norm' ELSE $chain END"
    s"""WITH mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    round(mu, 6) AS mean,
       |    round(avg((c_acctbal - mu) ^ 2), 4) AS variance,
       |    round(avg((c_acctbal - mu) ^ 3) / (avg((c_acctbal - mu) ^ 2) ^ 1.5), 6)
       |      AS skew_b,
       |    round(avg((c_acctbal - mu) ^ 4) / (avg((c_acctbal - mu) ^ 2) ^ 2)
       |      - 3.0, 6) AS kurt_b
       |  FROM customer, (SELECT avg(c_acctbal) AS mu FROM customer) m
       |  GROUP BY mu),
       |momw AS (
       |  SELECT *, ${GraphProfiler.LognormFamily.sqlW("skew_b")} AS lw
       |  FROM mom),
       |dists AS (
       |  SELECT *,
       |    $distCols
       |  FROM momw)
       |SELECT 'c_acctbal' AS attr, 'continuous' AS kind, n,
       |  CAST(NULL AS BIGINT) AS ndv, mean, variance, skew_b, kurt_b,
       |  $best AS best_fit
       |FROM dists
       |UNION ALL
       |SELECT 'c_mktsegment', 'categorical', (SELECT n FROM mom),
       |  (SELECT count(DISTINCT c_mktsegment) FROM customer),
       |  NULL, NULL, NULL, NULL, NULL
       |ORDER BY attr""".stripMargin
  }

  // -------------------------------------------------------- graph_attr_hist
  /** Categorical edge-attribute histogram (graph_profiler.py:447-467):
    * value counts of the categorical attr over the edge list — one
    * groupBy bounded by the category alphabet. */
  private def graphAttrHist(s: SparkSession, dir: String): DataFrame =
    edges(s, dir).groupBy(col("c_mktsegment").as("value"))
      .agg(count(lit(1)).as("n_edges"))
      .orderBy("value")

  private val graphAttrHistSql =
    """SELECT c_mktsegment AS value, count(*) AS n_edges
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------- graph_pagerank
  private val PrIters = 3
  private val PrDamp = 0.85

  /** Weighted PageRank over the nation-trade graph — the link-quality
    * signal a web-corpus pipeline computes over its domain graph
    * (Common Crawl ranks hosts exactly this way). The corpus-scale work
    * is the EDGE BUILD: lineitem ⋈ orders on orderkey (the one big
    * shuffle), customer/supplier dims broadcast, then a map-side-combined
    * aggregate down to (src_nation, dst_nation, w). The [[PrIters]]
    * power iterations then run as join + groupBy rounds on the
    * aggregated graph — at web scale the node/rank frames stay
    * partitioned by id and the same loop holds (plus periodic
    * checkpointing, as in the CC loop).
    *
    * Determinism: transition p = w/wout is an exact ratio of longs; the
    * per-edge contributions r·p are rounded to scaled LONGS before the
    * sum, so the aggregation is exact integer addition and immune to
    * cross-engine ordering; each iteration's rank then rounds to 8 dp
    * and the final report to 6 dp. Dangling mass: none by
    * construction (every src nation sells), so the plain
    * (1−d)/N + d·Σ update is exact in both engines. */
  private def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val su = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ew = {
      // plain equi-joins for the customer/supplier attach: both tables
      // scale with the corpus, so a forced broadcast is the same
      // |V|-sized-broadcast scale-killer the triangle plan removed —
      // AQE promotes to broadcast at SFs where they measure small
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      val outw = e.groupBy("src").agg(sum("w").as("wout"))
      e.join(outw, "src")
        .select(col("src"), col("dst"),
          (col("w").cast("double") / col("wout")).as("p"))
        .localCheckpoint() // one edge-build, 3 consumers below
    }
    val nodes = ew.select(col("src").as("id"))
      .union(ew.select(col("dst"))).distinct().localCheckpoint()
    val n = nodes.count()
    // edgeless graph: no nodes, no ranks — return the empty frame with
    // the output schema instead of dividing the init rank by n = 0
    // (the SQL twin's CTEs yield zero rows identically)
    if (n == 0)
      return nodes.select(col("id").as("nation"),
        round(lit(0.0), 6).as("rank"))
    var ranks = nodes.select(col("id"),
      round(lit(1.0) / n, 8).as("r"))
    for (_ <- 1 to PrIters) {
      // sum scaled-long products, not doubles: long addition is exact and
      // order-independent, so cross-engine aggregation order can't drift
      val contrib = ranks.join(ew, ranks("id") === ew("src"))
        .groupBy("dst")
        .agg((sum(round(col("r") * col("p") * 1e12).cast("long"))
          .cast("double") / 1e12).as("cin"))
      ranks = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(nodes("id"),
          round(lit((1.0 - PrDamp) / n) +
            lit(PrDamp) * coalesce(col("cin"), lit(0.0)), 8).as("r"))
    }
    ranks.select(col("id").as("nation"), round(col("r"), 6).as("rank"))
      .orderBy("nation")
  }

  private val graphPagerankSql = {
    val ewSql =
      """ea AS (
        |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |outw AS (SELECT src, sum(w) AS wout FROM ea GROUP BY 1),
        |ew AS (SELECT src, dst, CAST(w AS DOUBLE) / wout AS p
        |       FROM ea JOIN outw USING (src)),
        |nodes AS (SELECT DISTINCT src AS id FROM ew
        |          UNION SELECT DISTINCT dst FROM ew),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT id, round(1.0 / n, 8) AS r FROM nodes, nn)"""
        .stripMargin
    val iters = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT dst,
         |          CAST(sum(CAST(round(r * p * 1e12) AS BIGINT)) AS DOUBLE)
         |            / 1e12 AS cin
         |        FROM r${i - 1} JOIN ew ON r${i - 1}.id = ew.src
         |        GROUP BY dst),
         |r$i AS (SELECT id,
         |          round((1.0 - CAST($PrDamp AS DOUBLE)) / n
         |                + CAST($PrDamp AS DOUBLE) * coalesce(cin, 0.0), 8)
         |            AS r
         |        FROM nodes CROSS JOIN nn
         |        LEFT JOIN c$i ON c$i.dst = nodes.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ewSql,
       |$iters
       |SELECT id AS nation, round(r, 6) AS rank
       |FROM r$PrIters ORDER BY nation""".stripMargin
  }

  // -------------------------------------------------------- graph_triangles
  /** Distributed TRIANGLE COUNT + global clustering coefficient over the
    * co-order graph (parts that appear in the same order are adjacent —
    * a genuine non-bipartite graph with real triangles, unlike the
    * customer→nation star used above). The count enumerates each
    * triangle once via the oriented-edge join: with every edge stored
    * a < b, triangles are e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c), so no
    * permutation double-counting and the heaviest intermediate is the
    * wedge set. Wedges come from the degree table (Σ d(d−1)/2), giving
    * the global clustering coefficient 3T/W.
    *
    * Scale shape — THREE vertex-or-order-keyed shuffles total, every
    * row thin (two ints), nothing |V|-sized force-broadcast:
    *  1. groupBy(orderkey) → per-order item set (no self-join — the old
    *     x⋈y-on-orderkey plan shuffled the fact table twice and
    *     re-sorted it for the join). Item sets are small and bounded
    *     (~4–7 parts/order in TPC-H, line-count-capped in any real
    *     order feed), so the both-direction pair explode is
    *     O(items²/order) map-side work with a tiny constant.
    *  2. groupBy(v) collect_set → the FULL adjacency set per vertex.
    *     This one shuffle simultaneously (a) dedups pairs shared
    *     across orders, (b) yields degree = size(set) — the separate
    *     distinct-edge pass and degree shuffle of the naive plan both
    *     collapse into it. n_nodes/n_edges/wedges are one scan of the
    *     |V|-row result.
    *  3. groupBy(src) over degree-oriented half-edges → sorted
    *     out-adjacency. The orientation filter needs the neighbor's
    *     degree: exploded half-edges join the |V|-row degree frame as a
    *     PLAIN equi-join (AQE promotes to broadcast only when measured
    *     small — a forced |V|-sized broadcast would be a scale-killer
    *     on a web-scale vertex set).
    * The count joins then attach out-adjacency to each oriented edge;
    * again plain equi-joins that AQE broadcasts at this scale (the int
    * adjacency is a few MB) and shuffles co-partitioned when not. */
  private def graphTriangles(s: SparkSession, dir: String): DataFrame =
    trianglesImpl(s, dir, persist = true)

  /** The triangle pipeline as a pure declarative plan (no cache /
    * localCheckpoint), so PlanInvariantsSpec can inspect the logical
    * plan the production path executes — the production twin only adds
    * persistence at the marked points. */
  private[graft] def trianglesPlan(s: SparkSession, dir: String): DataFrame =
    trianglesImpl(s, dir, persist = false)

  /** DOULION edge-sampling scale twin (Tsourakakis et al., KDD'09 —
    * public algorithm): keep each undirected edge with probability
    * p = 1/[[TriSampleDenom]] (hash-derived, so both endpoints'
    * half-edges agree and reruns are deterministic), count triangles on
    * the sampled graph with the SAME pipeline, and report T̂ = T_s/p³
    * (unbiased; wedges scale by 1/p²). Intersect work drops by ~p², the
    * production plan is exercised end-to-end, and this is the bench's
    * substituted scale path for the exact count — the same role
    * sim_lsh_sampled plays for sim_lsh. */
  private val TriSampleDenom = 4L
  private[graft] def graphTrianglesSampled(
      s: SparkSession, dir: String): DataFrame =
    trianglesImpl(s, dir, persist = true, sampleDenom = TriSampleDenom)

  private def trianglesImpl(s: SparkSession, dir: String, persist: Boolean,
      sampleDenom: Long = 1L): DataFrame =
    // ObjectHashAggregate silently falls back to SORT-BASED aggregation
    // after 128 distinct keys per partition (the conservative Spark
    // default) — the adjacency builds have ~|V|/32 groups per partition,
    // so both collect aggregates were sorting the full half-edge stream.
    // |V|-bounded int buffers fit memory at any realistic vertex count
    // per partition; raise the threshold so the hash path is actually
    // taken. SCOPED (set/restore): the persist path localCheckpoints —
    // i.e. executes — inside this function, so the override covers the
    // aggregates that need it and the caller's session is untouched.
    graft.SessionConfs.withConf(s,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "20000000") {
    trianglesBody(s, dir, persist, sampleDenom)
  }

  private def trianglesBody(s: SparkSession, dir: String, persist: Boolean,
      sampleDenom: Long): DataFrame = {
    def p(df: DataFrame) = if (persist) df.cache() else df
    val sets = Tables.load(s, dir, "lineitem")
      // int vertex ids: halves every downstream shuffle/adjacency byte
      // (part keys fit int at any TPC-H SF; a web-scale id space would
      // flip this to long and the same plan holds, just heavier)
      .select(col("l_orderkey").as("ok"),
        col("l_partkey").cast("int").as("pk"))
      // primitive-int buffers here too (the nbr/adj builds already use
      // CollectSortedInts) — collect_set's ObjectHashAggregate boxes
      // every l_partkey into per-order Scala sets on the query's FIRST
      // and widest shuffle; the sorted output is set-equal
      .groupBy("ok").agg(graft.functions.CollectSortedInts(col("pk")).as("ps"))
    // both-direction pairs via two chained codegen'd Generate nodes (a
    // higher-order transform/flatten lambda builds the same pairs but
    // evaluates interpreted per element — measurably slower)
    val hAll = sets.select(explode(col("ps")).as("v"), col("ps"))
      .select(col("v"), explode(col("ps")).as("w"))
      .where(col("v") =!= col("w"))
    // edge sample keyed on the UNDIRECTED pair so both half-edges
    // agree; identity (mod 1 == 0) when not sampling
    val h = if (sampleDenom == 1L) hAll
      else hAll.where(pmod(xxhash64(least(col("v"), col("w")),
        greatest(col("v"), col("w"))), lit(sampleDenom)) === 0)
    // primitive-int aggregate, not collect_set: the ObjectHashAggregate
    // behind collect_set boxes every one of the tens of millions of
    // half-edge ints into per-group Scala sets — a per-stage probe
    // (now graft.tools.Probe) put the plan's dominant CPU there at sf1.
    // CollectSortedInts appends into raw int buffers and sort+dedups once
    // per group at eval (and its sorted output is exactly what the
    // icount merge needs downstream).
    val nbr = p(h.groupBy("v")
      .agg(graft.functions.CollectSortedInts(col("w")).as("ns"))
      .select(col("v"), size(col("ns")).cast("long").as("d"), col("ns")))
    val wedges = nbr.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("d")) / 2).cast("long").as("n_edges"),
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
    // DEGREE-ORDERED orientation (the standard high-degree refinement):
    // point every edge at its higher-(degree, id) endpoint, so each
    // vertex's out-degree is O(√m) and the intersect work is Σ outdeg²
    // instead of Σ deg² — the naive oriented join's 108 s wedge stage
    // at sf1 drops to seconds, with the count provably unchanged (each
    // triangle has exactly one vertex pointing at the other two).
    val deg = nbr.select(col("v").as("w"), col("d").as("dw"))
    val o = p(nbr
      .select(col("v"), col("d").as("dv"), explode(col("ns")).as("w"))
      .join(deg, Seq("w"))
      .where(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v").as("src"), col("w").as("dst")))
    // EDGE-ITERATOR count: for oriented edge (a,b), every common
    // out-neighbor c closes triangle {a,b,c} exactly once (a is the
    // unique vertex pointing at both others), so T = Σ_(a,b) |N⁺(a) ∩
    // N⁺(b)|. Out-adjacency arrays are O(√m)-bounded by the
    // orientation and SORTED once per vertex, so the per-edge count is
    // graft_icount's zero-allocation two-pointer merge inside
    // whole-stage codegen (size(array_intersect(...)) computed the same
    // number via a per-row hash set + discarded intersection array —
    // ~28 CPU-s at sf0.1 in that one stage). The wedge set (Σ outdeg²
    // rows, the naive plan's 100× larger shuffle) never materializes.
    // (A one-join variant that re-derives the edge stream by exploding
    // the out-adjacency measured SLOWER: the explode copies N⁺(src)
    // into every edge row before the dst shuffle, so the saved join is
    // paid back double in shuffle bytes. Keeping edges thin through
    // both joins wins.)
    // same primitive-int aggregate as the nbr build (o's (src, dst) rows
    // are already distinct, so set semantics ≡ list semantics here, and
    // the output comes back pre-sorted for the two-pointer merge)
    val adj = o.groupBy("src")
      .agg(graft.functions.CollectSortedInts(col("dst")).as("nbrs"))
    // (A shuffle_hash hint on the adjacency sides was tried to skip the
    // edge side's sort at sf1 — it measured 1.6× SLOWER end-to-end: the
    // hash join re-copies every matched array-carrying row while the
    // sort runs radix on thin pointers, and AQE already upgrades these
    // joins to broadcast at the SFs where adj is small. Keeping the
    // default join selection.)
    val tris = o
      .join(adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")),
        Seq("dst"))
      .select(graft.functions.IntersectCount(col("na"), col("nb")).as("t"))
      .agg(coalesce(sum("t"), lit(0)).cast("long").as("n_triangles"))
    val d = sampleDenom
    val out = wedges.crossJoin(tris).select(
      (if (d == 1L)
        Seq(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("clustering_coeff"))
      else
        // DOULION estimators: E[T_s] = p³·T, E[W_s] = p²·W → scale back
        Seq(col("n_edges").as("n_edges_sampled"),
          (col("n_edges") * d).as("n_edges_est"),
          (col("n_wedges") * d * d).as("n_wedges_est"),
          col("n_triangles").as("n_triangles_sampled"),
          (col("n_triangles") * d * d * d).as("n_triangles_est"),
          round(lit(3.0) * col("n_triangles") * d /
            col("n_wedges"), 6).as("clustering_est"))): _*)
    if (!persist) out
    else {
      val snap = out.localCheckpoint()
      o.unpersist(); nbr.unpersist()
      snap
    }
  }

  private val graphTrianglesSql =
    """WITH e AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |deg AS (
      |  SELECT v, count(*) AS d FROM (
      |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) u GROUP BY v),
      |w AS (
      |  SELECT count(*) AS n_nodes,
      |    CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      |  FROM deg),
      |t AS (
      |  SELECT count(*) AS n_triangles
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |-- sum, not count(*): NULL over an empty graph, matching the
      |-- Spark side's sum(d)/2 (and n_wedges' own sum semantics)
      |ne AS (SELECT CAST(sum(d) / 2 AS BIGINT) AS n_edges FROM deg)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  round(CAST(3.0 AS DOUBLE) * n_triangles / n_wedges, 6)
      |    AS clustering_coeff
      |FROM w CROSS JOIN ne CROSS JOIN t""".stripMargin

  /** DuckDB twin of the benched DOULION scale path, so the headline
    * bench substitution is PAIRED: both engines sample the undirected
    * edge set at p = 1/${TriSampleDenom} with a deterministic hash
    * (each engine's native 64-bit hash — results are estimates, not
    * hash-compared; the exact `graph_triangles` oracle verifies the
    * shared algebra) and run their exact triangle plan on the sample.
    * Estimator scaling identical to [[trianglesImpl]]'s sampled branch:
    * E[T_s]=p³T, E[W_s]=p²W. */
  private[graft] val graphTrianglesSampledSql = {
    val d = TriSampleDenom
    s"""WITH e0 AS (
       |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |-- hash ONE packed scalar, not hash(a, b): DuckDB's multi-arg
       |-- combine is linear in its low bits, which CORRELATES the three
       |-- edge-sampling events of a triangle (measured: T_s = T/p²
       |-- instead of T/p³ — a 4x-inflated estimate at p=1/4); the packed
       |-- form gets full single-value avalanche (a < 2^31 keeps the
       |-- product exact in BIGINT)
       |e AS (SELECT a, b FROM e0 WHERE hash(a * 4294967296 + b) % $d = 0),
       |deg AS (
       |  SELECT v, count(*) AS d FROM (
       |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) u GROUP BY v),
       |w AS (
       |  SELECT count(*) AS n_nodes,
       |    CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |t AS (
       |  SELECT count(*) AS n_triangles
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |ne AS (SELECT CAST(sum(d) / 2 AS BIGINT) AS n_edges FROM deg)
       |SELECT n_edges AS n_edges_sampled,
       |  n_edges * $d AS n_edges_est,
       |  n_wedges * ${d * d} AS n_wedges_est,
       |  n_triangles AS n_triangles_sampled,
       |  n_triangles * ${d * d * d} AS n_triangles_est,
       |  round(CAST(3.0 AS DOUBLE) * n_triangles * $d / n_wedges, 6)
       |    AS clustering_est
       |FROM w CROSS JOIN ne CROSS JOIN t""".stripMargin
  }

  override val qs: Seq[Q] = Seq(
    Q("graph_stats", graphStats, Some(graphStatsSql)),
    Q("graph_attrs", graphAttrs, Some(graphAttrsSql)),
    Q("graph_attr_hist", graphAttrHist, Some(graphAttrHistSql)),
    Q("graph_pagerank", graphPagerank, Some(graphPagerankSql)),
    Q("graph_triangles", graphTriangles, Some(graphTrianglesSql)))
}
