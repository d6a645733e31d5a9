package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.profiler.{Profiler, ProfilerOptions}

/** Profiler.profileSplit must produce, per key, the SAME Profile a
  * filtered whole-frame profile() produces — exactly for the mergeable
  * exact stats the composite oracles read (counts, min/max/sum, zeros/
  * negatives, category maps, vocab sets, NDV sketches, exemplars) and
  * FP-tolerantly for the merge-order-sensitive ones (moments, GK
  * quantile estimates). */
class ProfileSplitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val opts = ProfilerOptions(
    computeCorrelation = false, computeLabels = false,
    computeOrder = false, computeHistograms = false,
    vocabCharsPerValue = Int.MaxValue)

  private def relClose(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * (1 + math.abs(b))

  test("profileSplit == per-slice profile() on lineitem parity halves") {
    val base = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
        "l_shipdate") // string date column exercises the dt-discovery pass
    val split = Profiler.profileSplit(
      base.withColumn("__half", col("l_orderkey") % 2).drop("l_orderkey"),
      "__half", opts)
    assert(split.keySet == Set(0L, 1L))
    for (k <- Seq(0L, 1L)) {
      val whole = Profiler.profile(
        base.filter(col("l_orderkey") % 2 === k).drop("l_orderkey"), opts)
      val g = split(k)
      assert(g.rowCount == whole.rowCount)
      assert(g.rowHasNull == whole.rowHasNull)
      assert(g.rowIsNull == whole.rowIsNull)
      assert(g.columns.map(_.name) == whole.columns.map(_.name))
      g.columns.zip(whole.columns).foreach { case (a, b) =>
        assert(a.n == b.n && a.nulls == b.nulls, a.name)
        // HLL register state is order-free, so estimates match exactly
        assert(a.approxDistinct == b.approxDistinct, s"${a.name} ndv")
        assert(a.inferredType == b.inferredType, a.name)
        assert(a.exemplars == b.exemplars, s"${a.name} exemplars")
        assert(a.datetimeFormats == b.datetimeFormats, a.name)
        (a.numeric, b.numeric) match {
          case (Some(x), Some(y)) =>
            assert(x.min == y.min && x.max == y.max, a.name)
            assert(x.zeros == y.zeros && x.negatives == y.negatives, a.name)
            assert(relClose(x.sum, y.sum), s"${a.name} sum")
            assert(relClose(x.mean, y.mean), s"${a.name} mean")
            assert(relClose(x.m2, y.m2, 1e-6), s"${a.name} m2")
            // GK sketch estimates are merge-order sensitive: same rank
            // contract, possibly different bracketing values
            assert(x.quantiles.keySet == y.quantiles.keySet, a.name)
          case (None, None) =>
          case other => fail(s"${a.name} numeric mismatch: $other")
        }
        (a.categorical, b.categorical) match {
          case (Some(x), Some(y)) =>
            assert(x.counts == y.counts, s"${a.name} categories")
            assert(x.capped == y.capped, a.name)
          case (None, None) =>
          case other => fail(s"${a.name} categorical mismatch: $other")
        }
        (a.text, b.text) match {
          case (Some(x), Some(y)) =>
            assert(x.vocab == y.vocab, s"${a.name} vocab")
            assert(x.minLen == y.minLen && x.maxLen == y.maxLen, a.name)
            assert(relClose(x.meanLen, y.meanLen), a.name)
          case (None, None) =>
          case other => fail(s"${a.name} text mismatch: $other")
        }
      }
    }
  }

  test("profileSplit merge equals whole-frame profile on exact stats") {
    // the profile_merge contract end-to-end: split by chunk, merge, and
    // the exact mergeable stats match one profile of the whole frame
    val base = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val split = Profiler.profileSplit(
      base.withColumn("__c", col("l_orderkey") % 4).drop("l_orderkey"),
      "__c", opts)
    val merged = (0L until 4L).flatMap(split.get).reduce(_.merge(_))
    val whole = Profiler.profile(base.drop("l_orderkey"), opts)
    assert(merged.rowCount == whole.rowCount)
    val (mq, wq) = (merged.column("l_quantity").get.numeric.get,
      whole.column("l_quantity").get.numeric.get)
    assert(mq.min == wq.min && mq.max == wq.max)
    assert(mq.zeros == wq.zeros && mq.negatives == wq.negatives)
    assert(relClose(mq.sum, wq.sum))
    val (mr, wr) = (merged.column("l_returnflag").get,
      whole.column("l_returnflag").get)
    assert(mr.categorical.get.counts == wr.categorical.get.counts)
    assert(mr.text.get.vocab == wr.text.get.vocab)
  }

  test("profileSplit applies null-sentinel rewrites per group like profile()") {
    // the sentinel pre-pass runs BEFORE the grouped pass-1, so every
    // grouped stat must see the same null definition the per-slice
    // profile sees
    val sOpts = opts.copy(nullValues = Some("^N/A$"))
    val base = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select(col("l_orderkey"),
        when(col("l_orderkey") % 5 === 0, "N/A")
          .otherwise(col("l_returnflag")).as("flag"))
    val split = Profiler.profileSplit(
      base.withColumn("__half", col("l_orderkey") % 2).drop("l_orderkey"),
      "__half", sOpts)
    for (k <- Seq(0L, 1L)) {
      val whole = Profiler.profile(
        base.filter(col("l_orderkey") % 2 === k).drop("l_orderkey"), sOpts)
      val (a, b) = (split(k).column("flag").get, whole.column("flag").get)
      assert(a.nulls == b.nulls && a.nulls > 0, s"half $k sentinel nulls")
      assert(a.categorical.map(_.counts) == b.categorical.map(_.counts))
    }
  }

  test("profileSplit histograms equal per-slice profile() histograms") {
    // the HistogramAggregate buffers ride the grouped pass 1, so lifting the
    // v1 restriction costs no extra pass. lo/hi (exact data extremes)
    // and total mass must ALWAYS match; exact bin-count equality is
    // asserted on a coalesce(1) layout where both paths reduce the same
    // rows in the same order — HistBuf assimilation is merge-order
    // sensitive, and multi-partition final-merge fetch order is not
    // deterministic (the suite's FP-tolerant class, like GK quantiles)
    val hOpts = opts.copy(computeHistograms = true)
    val base0 = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    for ((base, exactBins) <- Seq((base0, false), (base0.coalesce(1), true))) {
      val split = Profiler.profileSplit(
        base.withColumn("__half", col("l_orderkey") % 2).drop("l_orderkey"),
        "__half", hOpts)
      for (k <- Seq(0L, 1L)) {
        val whole = Profiler.profile(
          base.filter(col("l_orderkey") % 2 === k).drop("l_orderkey"), hOpts)
        for (c <- Seq("l_quantity", "l_extendedprice")) {
          val (a, b) = (split(k).column(c).get.histogram,
            whole.column(c).get.histogram)
          assert(a.isDefined && b.isDefined, s"$c histogram present")
          assert(a.get.lo == b.get.lo && a.get.hi == b.get.hi, s"$c range")
          assert(a.get.counts.sum == b.get.counts.sum, s"$c total mass")
          if (exactBins)
            assert(a.get.counts.sameElements(b.get.counts), s"$c bin counts")
        }
      }
    }
  }

  test("category-pass qualification is applied inside the query") {
    // a column that is categorical in one group but high-cardinality in
    // the other must NOT ship the big group's distinct values to the
    // driver: the melt's collected row count is bounded by
    // Σ_group |qualifying cols| × maxCategories, not by any group's NDV
    import spark.implicits._
    val capOpts = opts.copy(maxCategories = 10)
    val base = (0 until 4000).map { i =>
      val g = i % 2L
      // group 0: 3 distinct values; group 1: one value per row
      val v = if (g == 0L) s"cat${i % 3}" else s"u$i"
      (g, v)
    }.toDF("__g", "mixed")
    val split = Profiler.profileSplit(base, "__g", capOpts)
    // end-to-end: group 0 keeps its category map, group 1 is over-cap
    assert(split(0L).column("mixed").get.categorical.exists(
      _.counts.keySet == Set("cat0", "cat1", "cat2")))
    assert(split(1L).column("mixed").get.categorical.exists(c =>
      c.capped && c.counts.isEmpty))
    // the pre-collect frame itself is bounded: only group 0 qualifies,
    // so the melt yields exactly its 3 value-count rows — group 1's
    // 2000 distinct values never reach the aggregation output
    val meltRows = Profiler.catMelt(base, Some(col("__g").cast("long")),
      Map(0L -> Seq("mixed"), 1L -> Seq.empty)).collect()
    assert(meltRows.length == 3)
    assert(meltRows.forall(_.getLong(0) == 0L))
  }

  test("a qualifying column whose pass-1 counter overflowed is counted by catMelt") {
    // 24 distinct values whose 16-register HLL estimate (ndvRsd 0.26 →
    // lgK 4), inserted in this order, is 10: the estimate qualifies the
    // column at maxCategories 10, but the exact counter drops its map
    // past its ceiling of ⌈10·(1 + 5·0.26)⌉ = 23 values, so the category
    // melt must count it
    import spark.implicits._
    val values = Seq(0, 1, 2, 3, 4, 5, 6, 7, 8, 11, 20, 21, 22, 23, 25, 27, 28, 32,
      34, 42, 43, 47, 49, 50).map(i => s"v$i")
    val counts = values.zipWithIndex.map { case (v, i) => v -> (i % 3 + 1).toLong }
    val rows = counts.flatMap { case (v, n) => Seq.fill(n.toInt)((0L, v)) } ++
      Seq((1L, "a"), (1L, "b"), (1L, "a"))
    val df = rows.toDF("__g", "c").coalesce(1)
    val capOpts = opts.copy(maxCategories = 10, ndvRsd = 0.26)
    val whole = Profiler.profile(df.filter(col("__g") === 0L).drop("__g"), capOpts)
    val split = Profiler.profileSplit(df, "__g", capOpts)
    for ((p, what) <- Seq(whole -> "whole", split(0L) -> "group 0")) {
      val c = p.column("c").get
      assert(c.approxDistinct <= 10, s"$what: the estimate no longer qualifies the column")
      assert(c.categorical.map(x => (x.counts, x.capped)).contains((counts.toMap, false)),
        what)
    }
    assert(split(1L).column("c").get.categorical.map(_.counts)
      .contains(Map("a" -> 2L, "b" -> 1L)))
  }

  test("profileSplit order detection equals per-slice profile() (grouped pass)") {
    // interleaved groups with OPPOSITE natural orders: the grouped
    // forward pass must see, per key, exactly the row subsequence a
    // filtered whole-frame profile sees (filters preserve partition
    // structure and row order, so the results are deterministic equals)
    import spark.implicits._
    val oOpts = opts.copy(computeOrder = true)
    val base = (0 until 5000).map { i =>
      val g = i % 2L
      // group 0 ascends in i; group 1 descends; `mixed` is random in both
      val v = if (g == 0L) i.toLong else 10000L - i
      (g, v, (i * 2654435761L) % 1000)
    }.toDF("__g", "directional", "mixed")
    val split = Profiler.profileSplit(base, "__g", oOpts)
    for (k <- Seq(0L, 1L)) {
      val whole = Profiler.profile(base.filter(col("__g") === k).drop("__g"), oOpts)
      for (c <- Seq("directional", "mixed")) {
        assert(split(k).column(c).get.order == whole.column(c).get.order,
          s"group $k col $c")
      }
    }
    assert(split(0L).column("directional").get.order.contains("ascending"))
    assert(split(1L).column("directional").get.order.contains("descending"))
  }

  test("profileSplit past 128 groups equals per-slice profile()") {
    // 200 groups over 4 partitions: every map task holds more keys than
    // ObjectHashAggregate's sort-based fallback threshold (128), so pass
    // 1 falls back to sorting. Order verdicts and category maps must
    // still equal the filtered whole-frame profile's exactly; moments
    // (merge-order sensitive) within 64 ulps.
    val nG = 200
    val id = col("id")
    val base = spark.range(0, 8000, 1, 4).select((id % nG).as("__g"),
      id.as("asc"), (lit(0L) - id).as("desc"),
      (id * 2654435761L % 1000).as("rand"), lit(3L).as("const"),
      concat(lit("c"), (floor(id / nG) % 5).cast("string")).as("cat"),
      (id * 7919 % 1001 / 7.0).as("x"))
    val o = opts.copy(computeOrder = true, computeExemplars = false)
    val split = Profiler.profileSplit(base, "__g", o)
    assert(split.keySet == (0L until nG).toSet)
    def ulps(a: Double, b: Double): Double =
      if (a == b) 0.0 else math.abs(a - b) / math.ulp(math.max(math.abs(a), math.abs(b)))
    for (k <- 0L until nG) {
      val whole = Profiler.profile(base.filter(col("__g") === k).drop("__g"), o)
      val g = split(k)
      assert(g.rowCount == whole.rowCount, s"group $k rows")
      for (c <- whole.columns) {
        val a = g.column(c.name).get
        assert(a.order == c.order, s"group $k ${c.name} order")
        assert(a.categorical.map(x => (x.counts, x.capped)) ==
          c.categorical.map(x => (x.counts, x.capped)), s"group $k ${c.name} categories")
        assert(a.text.map(_.vocab) == c.text.map(_.vocab), s"group $k ${c.name} vocab")
        (a.numeric, c.numeric) match {
          case (Some(x), Some(y)) =>
            assert(x.n == y.n && x.min == y.min && x.max == y.max, s"group $k ${c.name}")
            for ((u, v, what) <- Seq((x.mean, y.mean, "mean"), (x.m2, y.m2, "m2"),
                (x.sum, y.sum, "sum")))
              assert(ulps(u, v) <= 64, s"group $k ${c.name} $what: $u vs $v")
          case (None, None) =>
          case other => fail(s"group $k ${c.name} numeric mismatch: $other")
        }
      }
    }
    assert(split(0L).column("asc").get.order.contains("ascending"))
    assert(split(7L).column("desc").get.order.contains("descending"))
    assert(split(3L).column("const").get.order.contains("constant"))
    assert(split.values.forall(_.column("cat").get.categorical.exists(_.counts.size == 5)))
  }

  test("profileSplit correlation equals per-slice profile() (grouped co-moments)") {
    // the pairwise co-moment aggregates are ordinary sibling expressions,
    // so under groupBy(key) each group gets its own mergeable matrix
    // state — FP-tolerant comparison (avg/var_pop/covar_pop partials
    // reduce in partition order, the suite's merge-order-sensitive class)
    val cOpts = opts.copy(computeCorrelation = true)
    val base = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
    val split = Profiler.profileSplit(
      base.withColumn("__half", col("l_orderkey") % 2).drop("l_orderkey"),
      "__half", cOpts)
    for (k <- Seq(0L, 1L)) {
      val whole = Profiler.profile(
        base.filter(col("l_orderkey") % 2 === k).drop("l_orderkey"), cOpts)
      assert(whole.correlationState.nonEmpty, "whole-frame corr present")
      assert(split(k).correlationState.keySet == whole.correlationState.keySet,
        s"group $k corr pairs")
      whole.correlationState.foreach { case (pair, w) =>
        val g = split(k).correlationState(pair)
        assert(g.n == w.n, s"group $k $pair pairwise n")
        assert(relClose(g.corr, w.corr, 1e-9), s"group $k $pair corr")
      }
      // the derived matrix surface too — what report consumers read
      whole.correlation.foreach { case (pair, w) =>
        assert(relClose(split(k).correlation(pair), w, 1e-9),
          s"group $k $pair derived")
      }
    }
  }

  test("profileSplit corr merge equals whole-frame correlation") {
    // split by chunk, merge the k profiles, and the pooled co-moment
    // state must reproduce the whole-frame correlation (the same
    // profile_merge contract the other mergeable stats carry)
    val cOpts = opts.copy(computeCorrelation = true)
    val base = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val split = Profiler.profileSplit(
      base.withColumn("__c", col("l_orderkey") % 4).drop("l_orderkey"),
      "__c", cOpts)
    val merged = (0L until 4L).flatMap(split.get).reduce(_.merge(_))
    val whole = Profiler.profile(base.drop("l_orderkey"), cOpts)
    whole.correlation.foreach { case (pair, w) =>
      assert(relClose(merged.correlation(pair), w, 1e-9), s"$pair merged")
    }
  }

  test("profileSplit rejects missing and non-integral keys") {
    val df = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    intercept[IllegalArgumentException] {
      Profiler.profileSplit(df, "no_such_col", opts)
    }
    val e = intercept[IllegalArgumentException] {
      Profiler.profileSplit(df, "l_quantity", opts)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("profileSplit fails fast above maxGroups instead of collecting") {
    // a high-cardinality split key must produce an exact, clearly-named
    // error — never a driver-side collect of one wide stats row per key.
    // The guard is an exact NARROW pre-check (a distinct count of just the
    // key column) that runs before any wide chunk, so the misuse case
    // ships only 8-byte key rows. Proof that no wide expression ever
    // evaluates: poison a string column with raise_error — column
    // pruning strips it from the key-only pre-check, but any pass-1
    // aggregation over the frame would evaluate it and blow up with the
    // poison message instead of the guard's.
    val df = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val poisoned = df
      .withColumn("poison",
        when(col("l_quantity") >= -1, raise_error(lit("wide pass ran")))
          .cast("string"))
    val e = intercept[IllegalArgumentException] {
      Profiler.profileSplit(poisoned.withColumn("__k", col("l_orderkey")),
        "__k", opts.copy(maxGroups = 16))
    }
    assert(e.getMessage.contains("maxGroups"), e.getMessage)
    // control: with the guard satisfied the poison DOES fire, proving
    // the poison column is real and only the guard path avoids it
    val ctl = intercept[Exception] {
      Profiler.profileSplit(
        poisoned.withColumn("__k", col("l_orderkey") % 16)
          .drop("l_orderkey"),
        "__k", opts.copy(maxGroups = 16))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        (if (x.getCause != null && x.getCause != x) msgs(x.getCause)
         else Seq.empty))
    assert(msgs(ctl).exists(_.contains("wide pass ran")), msgs(ctl))
    // boundary: exactly maxGroups keys is allowed
    val ok = Profiler.profileSplit(
      df.withColumn("__k", col("l_orderkey") % 16).drop("l_orderkey"),
      "__k", opts.copy(maxGroups = 16))
    assert(ok.size == 16)
  }

  test("keyDomainBounded skips the pre-pass but a wrong assertion " +
      "still errors (r20)") {
    val df = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    // results must be IDENTICAL with and without the pre-pass
    val base = df.withColumn("__k", col("l_orderkey") % 4)
      .drop("l_orderkey")
    val checked = Profiler.profileSplit(base, "__k", opts)
    val trusted = Profiler.profileSplit(base, "__k",
      opts.copy(keyDomainBounded = true))
    assert(trusted.keySet == checked.keySet)
    for (k <- trusted.keySet) {
      val (a, b) = (trusted(k), checked(k))
      assert(a.rowCount == b.rowCount)
      a.columns.zip(b.columns).foreach { case (x, y) =>
        assert(x.name == y.name && x.n == y.n && x.nulls == y.nulls)
        assert(x.numeric.map(_.sum) == y.numeric.map(_.sum))
      }
    }
    // a wrong boundedness assertion is caught post-collect, loudly
    val e = intercept[IllegalArgumentException] {
      Profiler.profileSplit(df.withColumn("__k", col("l_orderkey")),
        "__k", opts.copy(maxGroups = 16, keyDomainBounded = true))
    }
    assert(e.getMessage.contains("keyDomainBounded"), e.getMessage)
  }

  test("computeExemplars=false skips the per-group head probes (r19)") {
    // gate/diff/merge composites never emit exemplars. With labels and
    // order off and no datetime-like column, exemplars are a split's
    // only reason for its segment pass, which takes every group's head
    // sample in one job. Pin BOTH halves of the contract: (a) every
    // other stat is identical with the flag off, (b) the pass is
    // actually gone — measured with a job listener, the flag-off run
    // plans exactly one job fewer.
    val base = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .withColumn("__half", col("l_orderkey") % 2).drop("l_orderkey")
    def countJobs(f: => Unit): Int = graft.obs.JobCensus.of(spark)(f)._2.jobs.size
    var withProbes: Map[Long, graft.profiler.Profile] = null
    var noProbes: Map[Long, graft.profiler.Profile] = null
    val jobsOn = countJobs {
      withProbes = Profiler.profileSplit(base, "__half", opts)
    }
    val jobsOff = countJobs {
      noProbes = Profiler.profileSplit(base, "__half",
        opts.copy(computeExemplars = false))
    }
    assert(jobsOff == jobsOn - 1,
      s"expected exactly 1 fewer job (the segment pass): on=$jobsOn off=$jobsOff")
    assert(noProbes.keySet == withProbes.keySet)
    for (k <- noProbes.keySet) {
      val (a, b) = (noProbes(k), withProbes(k))
      assert(a.rowCount == b.rowCount)
      a.columns.zip(b.columns).foreach { case (x, y) =>
        assert(x.exemplars.isEmpty, s"${x.name} exemplars should be off")
        assert(y.exemplars.nonEmpty, s"${y.name} exemplars control")
        assert(x.n == y.n && x.nulls == y.nulls, x.name)
        assert(x.numeric.map(_.mean) == y.numeric.map(_.mean), x.name)
        assert(x.categorical.map(_.counts) == y.categorical.map(_.counts),
          x.name)
        assert(x.text.map(_.vocab) == y.text.map(_.vocab), x.name)
      }
    }
    // whole-frame path honors the flag too
    val whole = Profiler.profile(base.drop("__half"),
      opts.copy(computeExemplars = false))
    assert(whole.columns.forall(_.exemplars.isEmpty))
  }
}
