package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  CartesianProductExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: the properties `.explain("formatted")`
  * reviews by hand, asserted in CI over the whole query inventory. A
  * query can silently regress from a broadcast join to a shuffled one
  * (or sprout a cartesian product) through an innocent-looking refactor
  * long before anyone re-reads its plan — these tests pin the shapes
  * that matter at 100 TB. All assertions match PHYSICAL NODE CLASSES
  * (not rendered plan strings), so a Spark version renaming a node's
  * display string can't silently flip a result.
  */
class PlanInvariantsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = SparkTestSession.sfDir

  /** Queries whose CONSTRUCTION already runs driver-orchestrated jobs
    * (stream replay, CC loops, model fits, multi-pass profiler
    * composites, file-fixture writers) — building them here would
    * re-run Verify, not inspect plans. Their inner plans are exercised
    * by their own specs. */
  private val eager = Set(
    "stream_windows", "stream_dedup", "stream_profile",
    "stream_neardup", "stream_sessions", "stream_enrich", "stream_join",
    "sim_pq", "sim_pq_search", "sim_pq_rerank", "graph_triangles",
    "graph_stats", "graph_attrs", "graph_attr_hist", "graph_pagerank",
    "dedup_clusters", "dedup_embed", "dedup_semantic",
    "sim_ivf_kmeans", "sim_ivf_search", "sim_ivf",
    "labeler_nb", "labeler_nb_fallback", "langid_nb", "ner_nb",
    "label_agreement", "colname_labels", "assoc_rules",
    "report_flat", "profile_merge", "profile_diff", "sniff_profile",
    "avro_scan", "json_scan", "multimodal_decode", "vocab_bpe",
    "bpe_encode", "bin_suggest", "quantiles", "mad", "cat_heavy",
    "order_detection", "sample_stratified",
    "dedup_ngram", "dedup_incremental", "sim_lsh", "sim_lsh_sampled",
    "sim_pairs",
    "quality_buckets", "text_perplexity", "mix_temperature",
    "partition_prune")

  private def lazyQueries: Seq[String] =
    SparkEntry.queries.keys.toSeq.filterNot(eager).sorted

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  /** Collect over the physical tree, descending into AQE wrappers. */
  private def collectAll[A](p: SparkPlan)(
      f: PartialFunction[SparkPlan, A]): Seq[A] = {
    val here = p.collect {
      case a: AdaptiveSparkPlanExec => collectAll(a.initialPlan)(f)
      case n if f.isDefinedAt(n) => Seq(f(n))
    }.flatten
    here
  }

  /** [[collectAll]] that ALSO descends into cached-relation plans —
    * for gates on shapes a `.cache()` would otherwise hide. Each
    * DISTINCT cached plan is visited once, however many scans read it
    * (two consumers of one cache are one physical build). */
  private def collectDeep[A](p: SparkPlan)(
      f: PartialFunction[SparkPlan, A]): Seq[A] = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val direct = collectAll(p)(f)
    val cachedPlans = collectAll(p) {
      case m: InMemoryTableScanExec => m.relation.cachedPlan
    }
    val distinct = cachedPlans.foldLeft(Vector.empty[SparkPlan]) { (acc, cp) =>
      if (acc.exists(_ eq cp)) acc else acc :+ cp
    }
    direct ++ distinct.flatMap(collectDeep(_)(f))
  }

  test("no cartesian product in any lazily-planned query") {
    // crossJoin(broadcast(1-row agg)) lowers to BroadcastNestedLoopJoin
    // (fine — the broadcast side is a scalar); CartesianProductExec is
    // the node that means a genuine all-pairs shuffle and must never
    // appear outside the two gated ground-truth stages (which are in
    // `eager` — their quadratics are documented and bounded).
    val offenders = lazyQueries.filter { n =>
      collectAll(plan(n)) { case c: CartesianProductExec => c }.nonEmpty
    }
    assert(offenders.isEmpty,
      s"cartesian product leaked into: ${offenders.mkString(", ")}")
  }

  test("join_pricing builds a broadcast hash join (dims never shuffle)") {
    val p = plan("join_pricing")
    assert(collectAll(p) { case b: BroadcastHashJoinExec => b }.nonEmpty,
      p.toString.linesIterator.take(40).mkString("\n"))
    assert(collectAll(p) { case s: SortMergeJoinExec => s }.isEmpty,
      "dim join regressed to a shuffle join:\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
  }

  test("q1_agg prunes the lineitem scan to the referenced columns") {
    val scans = collectAll(plan("q1_agg")) {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty)
    // 16-column table; the aggregation touches a handful. Pinning the
    // exact set would couple the test to the query text — the invariant
    // is that pruning HAPPENS (reads strictly fewer than all columns).
    assert(scans.forall(_.size <= 6),
      s"lineitem scan reads too many columns: $scans")
  }

  test("join_semi pushes its returnflag predicate into the parquet scan") {
    // (validators intentionally has NO pushdown to assert: it counts
    // matches as conditional aggregates over every row — the filter
    // lives inside the agg, so the scan is rightly unfiltered.)
    val pushed = collectAll(plan("join_semi")) {
      case f: FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "[]")
    }
    assert(pushed.exists(_.contains("EqualTo(l_returnflag,R)")),
      s"returnflag equality not pushed to any scan: $pushed")
  }

  test("latest_snapshot compacts with max_by aggregation, never a log sort") {
    // the whole point of the operator: ONE partial-agg'd shuffle, not
    // row_number() over the full log (a WindowExec here means the
    // anti-pattern crept back in)
    val p = plan("latest_snapshot")
    assert(collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "latest_snapshot regressed to a window over the log:\n" +
      p.toString.linesIterator.take(40).mkString("\n"))
  }

  test("funnel_stages stacks its three window minima on one user exchange") {
    // three chained conditional minima + the per-user collapse must all
    // run on the single user_id exchange; only the final census/stage
    // join may add more. A second user-keyed exchange means the window
    // specs diverged.
    val p = plan("funnel_stages")
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }.size
    assert(shuffles <= 3,
      s"funnel_stages grew to $shuffles shuffle exchanges:\n" +
        p.toString.linesIterator.take(60).mkString("\n"))
  }

  test("rollup_stats plans one Expand, not one scan per hierarchy level") {
    val p = plan("rollup_stats")
    assert(collectAll(p) {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }.nonEmpty, "rollup lost its Expand lowering:\n" +
      p.toString.linesIterator.take(40).mkString("\n"))
    val scans = collectAll(p) { case f: FileSourceScanExec => f }.size
    assert(scans == 1, s"rollup_stats reads the corpus $scans times")
  }

  test("zorder_layout assigns z-ranges map-side (broadcast maxes, no sort-merge)") {
    val p = plan("zorder_layout")
    assert(collectAll(p) { case s: SortMergeJoinExec => s }.isEmpty,
      "zorder maxes join regressed to a shuffle join")
    // 3 = the scalar maxes agg (1-row), the bucket groupBy, the output
    // order — the corpus itself crosses an exchange exactly once
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }.size
    assert(shuffles <= 3,
      s"zorder_layout grew to $shuffles shuffle exchanges:\n" +
        p.toString.linesIterator.take(60).mkString("\n"))
  }

  test("no broadcast hint feeds a corpus-scaled frame") {
    // A forced broadcast() is only sound when the hinted frame is
    // BOUNDED (dims, model state, k-row tops) — a hint on a frame whose
    // cardinality scales with the corpus or vertex set (the round-8
    // triangle degree-table pattern: |V|-sized broadcast(deg)) works at
    // bench SFs and detonates on a 1000-executor cluster. The gate is
    // EMPIRICAL: every explicit broadcast hint whose subtree scans a
    // fact/corpus table has its hinted subtree counted at two SFs (10×
    // apart); growth ≥4× means the broadcast scales with the data.
    // (Static inspection can't tell a bounded aggregate from an
    // unbounded one; row counts can.)
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val factTables = Seq("lineitem", "orders", "documents", "embeddings",
      "events")
    val small = "/root/testdata/sf0.001"
    val big = "/root/testdata/sf0.01"
    def scansFact(p: LogicalPlan): Boolean = p.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(rp =>
            factTables.exists(t => rp.toString.contains(t + ".parquet")))
        case _ => false
      }
    }.exists(identity)
    def hintedFactChildren(df: org.apache.spark.sql.DataFrame): Seq[LogicalPlan] =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint if scansFact(h.child) => h.child
      }
    def count(p: LogicalPlan): Long =
      org.apache.spark.sql.GraftSessions.ofRows(spark, p).count()
    // the triangle pipeline is eager in production (caches +
    // localCheckpoint), so its declarative twin joins the sweep
    // explicitly — this is the query whose round-8 plan this gate
    // exists to reject
    val offenders = (lazyQueries.map(n =>
        n -> SparkEntry.queries(n)(spark, small)) :+
        ("graph_triangles" -> graft.operators.GraphQueries.trianglesPlan(spark, small)))
      .flatMap { case (name, dfS) =>
        val hintsS = hintedFactChildren(dfS)
        if (hintsS.isEmpty) Nil
        else {
          val dfB = name match {
            case "graph_triangles" =>
              graft.operators.GraphQueries.trianglesPlan(spark, big)
            case n => SparkEntry.queries(n)(spark, big)
          }
          // positional match: the plan shape is SF-independent
          hintsS.zip(hintedFactChildren(dfB)).zipWithIndex.collect {
            case ((cs, cb), i)
                if count(cs) > 0 && count(cb) >= 4 * count(cs) =>
              s"$name#hint$i (${count(cs)} -> ${count(cb)} rows at 10x data)"
          }
        }
      }
    assert(offenders.isEmpty,
      s"corpus-scaled broadcast hints: ${offenders.mkString("; ")}")
  }

  test("bucket_join plans zero exchanges below the sort-merge join") {
    // the property bucketing buys: both sides pre-hashed into the same
    // bucket layout, so the recurring join reads co-located files with
    // no shuffle — an exchange under the join means the bucket metadata
    // was lost (catalog re-attach failed) and the write-time shuffle is
    // being paid again on every run. At the TEST scale factor the tiny
    // side would legitimately broadcast instead (also exchange-free for
    // the fact side); auto-broadcast is disabled around the plan build
    // so the gate exercises the sort-merge path a 100 TB fact⋈fact join
    // actually takes.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val p = try {
      spark.conf.set(key, "-1")
      plan("bucket_join")
    } finally spark.conf.set(key, prev)
    val smjs = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "bucketed join did not plan as a sort-merge join:\n" +
      p.toString.linesIterator.take(40).mkString("\n"))
    val below = smjs.flatMap(j =>
      collectAll(j) { case e: ShuffleExchangeLike => e })
    assert(below.isEmpty, "exchange below the bucketed join:\n" +
      p.toString.linesIterator.take(40).mkString("\n"))
  }

  test("partition_prune prunes at listing time, not with data filters") {
    // the whole point of the operator: the day predicate must land in
    // the scan's PartitionFilters (directories never opened) and leave
    // the data-filter set EMPTY — a PushedFilters/Filter shape here
    // means the layout degraded to a full scan with a row filter
    val p = plan("partition_prune")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "day predicate did not reach PartitionFilters:\n" +
        p.toString.linesIterator.take(30).mkString("\n"))
    assert(scans.forall(_.dataFilters.isEmpty),
      "partition predicate degraded to a data filter:\n" +
        p.toString.linesIterator.take(30).mkString("\n"))
  }

  test("dedup_minhash signature pass is map-only up to the band join") {
    // the signature expression must run BEFORE any exchange: the only
    // SHUFFLE exchanges allowed are the band-bucket equi-join sides and
    // the final ordering (broadcast exchanges are free — they move
    // bounded state, not the corpus)
    val p = plan("dedup_minhash")
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }.size
    assert(shuffles <= 4,
      s"dedup_minhash grew to $shuffles shuffle exchanges:\n" +
        p.toString.linesIterator.take(60).mkString("\n"))
  }

  test("decontaminate never shuffles training grams (broadcast semi probe)") {
    // the operator's scale contract: the training-side gram stream goes
    // scan → wordgrams explode → broadcast SEMI join with NO exchange
    // below the streamed side — only eval grams (broadcast build) and
    // the rare HIT pairs (post-join distinct) ever shuffle. The round-9
    // plan broke this with a corpus-wide (doc, gram) distinct() BEFORE
    // the eval/train split; this pins the fix.
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val p = plan("decontaminate")
    val semis = collectAll(p) {
      case b: BroadcastHashJoinExec if b.joinType == LeftSemi => b
    }
    assert(semis.nonEmpty, "contamination probe is not a broadcast semi join:\n" +
      p.toString.linesIterator.take(50).mkString("\n"))
    val below = semis.flatMap { j =>
      val streamed = if (j.buildSide == BuildRight) j.left else j.right
      collectAll(streamed) { case e: ShuffleExchangeLike => e }
    }
    assert(below.isEmpty, "training grams cross an exchange before the probe:\n" +
      p.toString.linesIterator.take(50).mkString("\n"))
  }

  test("search_bm25 tf stage is in-row: one |terms|-slot Generate, " +
      "no all-tokens explode") {
    // the round-12 TermCounts fusion: term frequencies are computed
    // in-row by the codegen'd byte-scan, so the plan must carry exactly
    // ONE Generate (the posexplode over the fixed-size counts array,
    // inside the cached tf relation) — an explode over the corpus token
    // stream coming back would put a Generate per corpus token and a
    // (doc, dl, tok) combine back in front of the only real shuffles
    import org.apache.spark.sql.execution.GenerateExec
    val p = plan("search_bm25")
    // every Generate in the tree (dft + score both read the cached tc
    // frame, so up to one instance each) must be the posexplode over the
    // fixed counts array — never an explode of the corpus token stream
    val gens = collectDeep(p) { case g: GenerateExec => g }
    assert(gens.nonEmpty && gens.size <= 2 &&
      gens.forall(_.boundGenerator.toString.startsWith("posexplode")),
      s"search_bm25 Generate census wrong (${gens.size}: " +
        s"${gens.map(_.boundGenerator.toString.take(30))}):\n" +
        p.toString.linesIterator.take(50).mkString("\n"))
    // the fused counts expression runs exactly ONCE per document: only
    // inside the cached-frame build — an InferFiltersFromGenerate
    // pushdown (or losing the cache) re-evaluates the byte-scan per row
    val evals = collectDeep(p) { case n =>
      n.expressions.map(_.collect {
        case t: graft.functions.TermCounts => t
      }.size).sum
    }.sum
    assert(evals == 1,
      s"graft_termcounts appears $evals times in the physical plan " +
        "(expected exactly 1, inside the cached tc build)")
    // no sort-merge join anywhere: every join side is broadcast-bounded
    assert(collectDeep(p) { case s: SortMergeJoinExec => s }.isEmpty,
      "search_bm25 sprouted a sort-merge join")
  }

  test("text_repetition shuffles only the decile histogram") {
    // per-doc gram stats are computed in-row by graft_gramstats: the
    // only exchanges left are the 20-key histogram agg and the output
    // ordering — the round-9 (doc_id, gram) corpus shuffle must not come
    // back
    val p = plan("text_repetition")
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }.size
    assert(shuffles <= 2,
      s"text_repetition grew to $shuffles shuffle exchanges:\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
    // and the expensive expression must be evaluated exactly once per
    // row — a filter pushed below its project would double it
    val evals = collectAll(p) { case n =>
      n.expressions.map(_.collect {
        case g: graft.functions.GramRepetition => g
      }.size).sum
    }.sum
    assert(evals == 1,
      s"graft_gramstats appears $evals times in the physical plan " +
        "(expected exactly 1 — pushed-down filter re-evaluating it?)")
  }

  test("chunk_overlap never materializes a chunk row (no explode, 2 exchanges)") {
    // the census is closed-form per-doc integer arithmetic: scan →
    // project → |sources|-key agg → order. An explode (GenerateExec)
    // appearing here means someone started materializing chunk rows for
    // a census that has a closed form — the encode job's cost leaking
    // into the census query.
    val p = plan("chunk_overlap")
    val gens = collectAll(p) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.isEmpty, "chunk_overlap sprouted an explode:\n" +
      p.toString.linesIterator.take(40).mkString("\n"))
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }.size
    assert(shuffles <= 2,
      s"chunk_overlap grew to $shuffles shuffle exchanges:\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
  }

  test("kanon_census cascades the distinct-sensitive count (no Expand)") {
    // countDistinct alongside count in one agg plans an ExpandExec that
    // duplicates EVERY input row per aggregate before the corpus-sized
    // QI shuffle; the census must keep the two-level cascade
    // (groupBy(QI, sensitive) then groupBy(QI)) so the scan-sized
    // exchange carries each row once. The threshold explode is the
    // only Generate and runs on the bounded class frame.
    val p = plan("kanon_census")
    val expands = collectAll(p) {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.isEmpty,
      "kanon_census plans an Expand (countDistinct collapsed the " +
        "cascade):\n" + p.toString.linesIterator.take(40).mkString("\n"))
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }.size
    assert(shuffles <= 4,
      s"kanon_census grew to $shuffles shuffle exchanges:\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
  }

  test("scd2_build shares one user_id sort across both history windows") {
    // the lag window, the change filter, and the post-filter lead window
    // all order by (user_id; ts, event_id): Catalyst must plan ONE
    // shuffle+sort for the whole history pass (a second SortExec means
    // the lead window stopped reusing the lag window's ordering), plus
    // the small census exchange on the attribute domain
    val p = plan("scd2_build")
    val sorts = collectAll(p) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.size
    assert(sorts <= 2, // history sort + output orderBy
      s"scd2_build grew to $sorts sorts (windows no longer share):\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }.size
    assert(shuffles <= 3, // user_id + census agg + output range
      s"scd2_build grew to $shuffles shuffle exchanges:\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
  }

  test("assoc_rules joins everything by broadcast around one mask agg") {
    // r13: the query function itself now collect()s the (≤326-row) cell
    // frame and finishes driver-side, so the gate runs on the DISTRIBUTED
    // prefix (assocCells). The basket build must stay a primitive bit_or
    // HashAggregate fed by broadcast dim joins: a SortMergeJoin here
    // means a dim stopped broadcasting, and an ObjectHashAggregate means
    // the basket build regressed to collect_set (measured 6.8 s vs this
    // plan's class).
    val p = operators.StatsQueries.assocCells(spark, sfDir)
      .queryExecution.executedPlan
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      "assoc_rules plans a sort-merge join (dim stopped broadcasting):\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
    val objAggs = collectAll(p) {
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
    }
    assert(objAggs.isEmpty,
      "assoc_rules basket build regressed to an object aggregate:\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
    // the r13 finding itself: pair/item/total probes fused into ONE pass,
    // so the whole distributed prefix reads lineitem exactly once (the
    // old three-consumer form re-materialized the corpus aggregation)
    val liScans = collectAll(p) {
      case f: FileSourceScanExec
          if f.relation.location.inputFiles.exists(_.contains("lineitem")) => f
    }
    assert(liScans.size == 1,
      s"assoc_rules reads lineitem ${liScans.size}× (must be exactly once)")
  }

  test("fuzzy_match broadcasts the capped query side (directory never " +
    "shuffles before the verify)") {
    val p = plan("fuzzy_match")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      "fuzzy_match plans a sort-merge join (query side stopped " +
        "broadcasting):\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "fuzzy_match lost its broadcast-hash candidate join")
  }

  test("sample_weighted window and census share one stratum exchange") {
    // priority ranking and the census aggregate both key on source: the
    // groupBy must reuse the window's hashpartitioning(source), leaving
    // exactly the stratum exchange + the output ordering
    val p = plan("sample_weighted")
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }.size
    assert(shuffles <= 2,
      s"sample_weighted grew to $shuffles shuffle exchanges:\n" +
        p.toString.linesIterator.take(40).mkString("\n"))
  }

  test("batch_pack stacks both batch assignments on one shard exchange") {
    // two row_number windows with the same partition key must share one
    // exchange; the per-batch waste reduction and the 8-row shard join
    // account for the rest. The worst regression here is a second
    // corpus-sized exchange from the second window ordering.
    val p = plan("batch_pack")
    val shuffles = collectAll(p) { case e: ShuffleExchangeLike => e }
    // tagged is consumed by two branches: each branch re-plans the
    // shard exchange (1 each) + its (shard, batch) agg exchange (1
    // each) + the join/order — bounded by 7; the corpus crosses only
    // the shard exchanges
    assert(shuffles.size <= 7,
      s"batch_pack grew to ${shuffles.size} shuffle exchanges:\n" +
        p.toString.linesIterator.take(60).mkString("\n"))
    val carts = collectAll(p) { case c: CartesianProductExec => c }
    assert(carts.isEmpty, "batch_pack planned a cartesian product")
  }
}
