package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus()
    // AQE stays ON (the 100 TB default); SPARK_GRAFT_AQE=false exists
    // to measure how much of the toy-scale total is AQE's
    // one-job-per-exchange orchestration rather than plan work
    val spark = GraftSession(cpus, confs = Seq("spark.sql.adaptive.enabled" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE", "true")))
    // stale-summary guard: a prior run (possibly at another SF) may have
    // left <q>.summary.json files in the persistent stage dir, which
    // would silently attach a previous run's batch counts to this bench
    // line — delete them up front so only summaries written by THIS
    // run's replay are picked up below
    locally {
      val dir = Stage.dir("stream_metrics")
      if (java.nio.file.Files.isDirectory(dir)) {
        val stale = java.nio.file.Files.list(dir)
        try stale.toArray.foreach {
          case p: java.nio.file.Path
              if p.getFileName.toString.endsWith(".summary.json") =>
            java.nio.file.Files.deleteIfExists(p)
          case _ => ()
        } finally stale.close()
      }
    }
    // untimed warmup: JIT + codegen + parquet footer caches, so the first
    // timed query doesn't absorb one-time JVM startup cost
    try {
      Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
      spark.range(1000).selectExpr("sum(id)").collect()
    } catch { case _: Throwable => () }
    // full untimed pass at the smallest SF: whole-stage codegen and C2
    // compilation are per-QUERY-SHAPE one-time costs in a single JVM —
    // without this, ~15 s of JIT lands on whichever heavy query happens
    // to run first and per-query times measure compiler luck, not plans.
    // (The DuckDB oracle side has no JIT to warm — its vectorized
    // interpreter runs "warm" from the first query, so this also makes
    // the engine comparison like-for-like.) Reader queries warm at the
    // TARGET dir instead: that pre-builds their file fixtures, which are
    // setup the oracle side reads for free.
    val warmDir = "/root/testdata/sf0.001"
    val readerQs = Set("sniff_profile", "avro_scan", "json_scan", "csv_utf16")
    val onlyWarm = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    if (new java.io.File(warmDir).isDirectory)
      (SparkEntry.queries ++ SparkEntry.benchOnly).toSeq.sortBy(_._1)
        .filter(kv => onlyWarm.forall(_(kv._1)))
        .foreach { case (name, fn) =>
          val d = if (readerQs(name)) sfDir else warmDir
          try fn(spark, d).count() catch { case _: Throwable => () }
        }
    // the warmup pass itself leaves sf0.001 caches behind — drop them so
    // the first timed query starts from the same clean state as the rest
    spark.catalog.clearCache()
    // benchOnly = scale-path/approx twins (xxhash64 MinHash/SimHash, GK
    // quantiles, HLL NDV) timed alongside the oracle-checked exact modes;
    // the headline "value" stays the verified-suite total so it remains
    // comparable to the DuckDB oracle suite in BASELINE.md
    // failed queries record -1 and are EXCLUDED from totals — matching
    // tools/bench_oracle.py, so the two totals stay over the same set
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // run in SORTED name order: Map hash order reshuffles whenever a
    // query is added, which moves cold-JIT/warm-cache effects between
    // queries and makes per-query times incomparable across rounds
    def time(m: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]) =
      m.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            errors += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Cached frames a query leaves behind (intermediate reuse the
        // (s, dir) => DF contract can't unpersist before its consumer
        // counts) otherwise accumulate across the 131-query suite, so a
        // later query's number silently depends on its alphabetical
        // position — both through squeezed execution memory and through
        // accidental cache HITS on a predecessor's frames (and the
        // "Asked to cache already cached data" warnings). Clearing
        // BETWEEN queries (untimed) makes each number the query's
        // standalone cost — the state the DuckDB oracle runs each SQL
        // from, and the state the driver would see running one query
        // alone. Measured at sf1: suite total is a wash (546→549 s);
        // per-query it exposes costs caches had been hiding
        // (join_pricing 1.7→3.7 s) and removes cross-query memory
        // coupling (dsir_weights 4.9→3.2 s). It does NOT explain the
        // graph_triangles in-suite/isolated gap (42 s in-suite with AND
        // without clearing vs ~31 s isolated same-day — residual is
        // JVM/JIT/co-tenant state, not Spark caches).
        spark.catalog.clearCache()
        name -> (if (ok) dt else -1.0)
      }.toMap
    // SPARK_GRAFT_QUERIES=a,b,c → time only that subset (iteration aid);
    // subset runs never overwrite BENCH_LATEST.json
    val only = onlyWarm
    def pick(m: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]) =
      only.fold(m)(s => m.filter(kv => s(kv._1)))
    val results = time(pick(SparkEntry.queries))
    val variants = time(pick(SparkEntry.benchOnly))
    // 3-decimal rounding bounds the per-query entries, but at 146
    // queries + 14 variants + stream metrics the full line is ~4.3 KB —
    // PAST the driver's ~2000-char captured tail since ~r14 ("parsed":
    // null in every BENCH_rNN.json from r14 to r19). The full line stays
    // (contract: one JSON line with the complete per-query map) and a
    // COMPACT totals-only line follows it (compactLine below), so the
    // tail window always ends with one complete parsable object.
    def r3(v: Double) = if (v < 0) "-1" else f"$v%.3f"
    def js(m: Map[String, Double]) =
      m.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val vTotal = variants.values.filter(_ >= 0).sum
    // What a production deploy would run: the suite with each exact
    // oracle-mode query replaced by its sketch/sampled scale-path twin
    // (variant → the exact sibling it substitutes). labeler_votes_regex
    // is the reverse direction (the HEADLINE already runs the fast path)
    // and is deliberately absent.
    val substitutes = Map(
      "dedup_minhash_xx" -> "dedup_minhash",
      "dedup_minhash_clusters_xx" -> "dedup_minhash_clusters",
      "dedup_simhash_xx" -> "dedup_simhash",
      "quantiles_approx" -> "quantiles",
      "numeric_stats_approx" -> "numeric_stats",
      "bin_suggest_approx" -> "bin_suggest",
      "robust_stats_approx" -> "robust_stats",
      "quality_buckets_approx" -> "quality_buckets",
      "sim_lsh_sampled" -> "sim_lsh",
      "dedup_substring_xx" -> "dedup_substring",
      "decontaminate_bloom" -> "decontaminate",
      "graph_triangles_sampled" -> "graph_triangles")
    val substitutedTotal = substitutes.foldLeft(total) {
      case (acc, (variant, exact)) =>
        (variants.get(variant), results.get(exact)) match {
          case (Some(v), Some(e)) if v >= 0 && e >= 0 => acc - e + v
          case _ => acc
        }
    }
    val errs = errors.map("\"" + jq(_) + "\"").mkString("[", ",", "]")
    // per-stream replay metrics (batches / state rows / max batch ms),
    // written by StreamMetrics.dump during the run, attached next to
    // the timing entries so a slow stream_* number is attributable to
    // batch work vs replay machinery without a re-run
    val streamMetrics = {
      val dir = Stage.dir("stream_metrics")
      results.keys.filter(_.startsWith("stream_")).toSeq.sorted.flatMap { q =>
        val f = dir.resolve(s"$q.summary.json")
        if (java.nio.file.Files.exists(f))
          Some("\"" + q + "\":" + java.nio.file.Files.readString(f))
        else None
      }.mkString("{", ",", "}")
    }
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${js(results)},"variants":${js(variants)},"variants_total":${r3(vTotal)},"substituted_total":${r3(substitutedTotal)},"stream":$streamMetrics,"errors":$errs,"cpus":$cpus,"sf":"${jq(sfDir)}"}"""
    println(line)
    // sbt prefixes stdout with "[info] ", which has broken downstream
    // JSON extraction before — persist the bare line as a file too.
    // CANARY GUARD: the host is co-tenant-noisy (BASELINE.md documents
    // 2-6x per-query swings with zero code delta). Three cheap stable
    // queries act as canaries — if any runs >1.5x its committed-anchor
    // time, this run is a noise window: record it as _noisy and leave
    // the anchor alone, so the committed headline only moves on clean
    // pairings.
    // SPARK_GRAFT_ACCEPT_ANCHOR=1 bypasses the guard: a LEGITIMATE >1.5x
    // change to a canary path (real code change) would otherwise divert
    // every future full run to _noisy forever with no way to re-anchor.
    val acceptAnchor = sys.env.get("SPARK_GRAFT_ACCEPT_ANCHOR").contains("1")
    val sidecarWritten: Option[String] = if (only.isEmpty) {
      val anchor = java.nio.file.Paths.get("BENCH_LATEST.json")
      val noisyMarker = java.nio.file.Paths.get("target/bench_noisy_count")
      val canaries = Seq("validators", "text_memsize", "win_session")
      // Compare against the COMMITTED anchor, not the disk file: a
      // previous bench run may have just overwritten the disk file with
      // its own (slightly noisy) times, and each such overwrite ratchets
      // the canary baseline upward until arbitrarily-noisy runs pass.
      def committedAnchor(): Option[String] = try {
        val p = new ProcessBuilder("git", "show", "HEAD:BENCH_LATEST.json")
          .redirectErrorStream(false).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        if (p.waitFor() == 0 && out.contains("\"queries\"")) Some(out)
        else None
      } catch { case _: Throwable => None }
      val anchorText = try {
        val fromDisk =
          if (java.nio.file.Files.exists(anchor))
            Some(java.nio.file.Files.readString(anchor))
          else None
        committedAnchor().orElse(fromDisk)
      } catch { case _: Throwable => None }
      // Anchor times are only comparable at the anchor's own scale
      // factor: a run at another SF must never overwrite it (an sf0.001
      // smoke run once clobbered the sf0.1 anchor) nor trip canaries.
      val anchorSf = anchorText.flatMap(old =>
        "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(old).map(_.group(1)))
      val sfMismatch = anchorSf.exists(_ != sfDir)
      // Anchor times are equally incomparable across CORE COUNTS: the
      // driver's scaling run ($SPARK_GRAFT_CPUS=8 vs the 32-core anchor)
      // is a deliberate different-configuration measurement, not a noise
      // window — route it to its own file exactly like the sf-mismatch
      // path, never through the canary guard (r19 verdict #1/#2: the c8
      // run was diverted as "noisy" and printed a guard error).
      // Anchors committed before the line carried "cpus" can't be
      // distinguished — they fail open (no mismatch), same as sf.
      val anchorCpus = anchorText.flatMap(old =>
        "\"cpus\":([0-9]+)".r.findFirstMatchIn(old).map(_.group(1)))
      val cpusMismatch = !sfMismatch && anchorCpus.exists(_ != cpus.toString)
      val noisy = !sfMismatch && !cpusMismatch && (try {
        anchorText.exists(old => noiseTrip(old, canaries, results, total))
      } catch { case _: Throwable => false })
      val diverted = noisy && !acceptAnchor
      // consecutive-noisy counter: distinguishes "one bad co-tenant
      // window" from "every run trips the canaries" (= persistent real
      // regression or stale anchor → re-run with SPARK_GRAFT_ACCEPT_ANCHOR=1)
      val noisyStreak = try {
        val prev = if (java.nio.file.Files.exists(noisyMarker))
          new String(java.nio.file.Files.readAllBytes(noisyMarker), "UTF-8")
            .trim.toInt
        else 0
        // mismatch runs (sf or cpus) are different configurations, not
        // evidence about this slot's noise — they leave the streak alone
        val cur = if (diverted) prev + 1
          else if (sfMismatch || cpusMismatch) prev else 0
        java.nio.file.Files.createDirectories(noisyMarker.getParent)
        java.nio.file.Files.writeString(noisyMarker, cur.toString)
        cur
      } catch { case _: Throwable => 0 }
      val sfBase = new java.io.File(sfDir).getName
      val dest =
        if (sfMismatch) s"BENCH_LATEST_$sfBase.json"
        else if (cpusMismatch) s"BENCH_LATEST_c$cpus.json"
        else if (diverted) "BENCH_LATEST_noisy.json"
        else "BENCH_LATEST.json"
      if (sfMismatch) System.err.println(
        s"[bench] run sf ($sfDir) differs from anchor sf " +
          s"(${anchorSf.getOrElse("?")}); writing $dest, anchor unchanged")
      // stdout, not stderr: a different-core-count run is an expected
      // scaling measurement; sbt prefixes stderr with "[error]" which
      // previously made the driver's c8 run look broken
      if (cpusMismatch) println(
        s"[bench] run cpus ($cpus) differs from anchor cpus " +
          s"(${anchorCpus.getOrElse("?")}); writing $dest, anchor unchanged")
      if (diverted) System.err.println(
        "[bench] noise guard: canary >1.5x or suite total >1.3x anchor; " +
          s"writing BENCH_LATEST_noisy.json, anchor unchanged " +
          s"(consecutive noisy runs: $noisyStreak — if this keeps " +
          "climbing, re-anchor with SPARK_GRAFT_ACCEPT_ANCHOR=1)")
      if (noisy && acceptAnchor) System.err.println(
        "[bench] canary guard BYPASSED (SPARK_GRAFT_ACCEPT_ANCHOR=1): " +
          "accepting this run as the new anchor")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dest), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED to write $dest: $e") }
      // Self-contained round artifact (r16 verdict #4, hardened r18):
      // the driver's BENCH_rN.json extractor has recorded "parsed":
      // null on clean runs, leaving the round's query map only in a
      // captured shell tail. Persist the canonical parsed object plus
      // run metadata (HEAD, where the anchor logic routed this run) so
      // the artifact never depends on log scraping. KEYED BY DEST — a
      // guard-diverted noisy run writes its own _noisy sidecar and can
      // no longer clobber the clean anchor's parsed copy (r17
      // what's-wrong #3); git is resolved against the dest directory
      // (not the JVM cwd assumption) and every failure is logged, not
      // swallowed — a stale sidecar claiming another HEAD is worse
      // than a loud miss.
      val repoDir = java.nio.file.Paths.get(dest).toAbsolutePath.getParent
      val head = try {
        val p = new ProcessBuilder(
          "git", "-C", repoDir.toString, "rev-parse", "HEAD").start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0 && out.nonEmpty) out else "unknown"
      } catch { case e: Throwable =>
        System.err.println(s"[bench] git rev-parse failed: $e"); "unknown" }
      val sidecar = dest.replace("BENCH_LATEST", "BENCH_PARSED_LATEST")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sidecar),
        s"""{"git_head":"${jq(head)}","dest":"${jq(dest)}",""" +
          s""""parsed":$line}""" + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED to write $sidecar: $e") }
      Some(sidecar)
    } else None
    // Compact FINAL stdout line (r19 verdict #1): the totals restated in
    // a guaranteed-<1 KB object, printed LAST so a bounded tail capture
    // that cuts the full line's ~4.3 KB head still ends with one
    // complete parsable JSON object. The full per-query map is in the
    // full line above and in the BENCH_PARSED_LATEST*.json sidecar
    // (queries_file); this line never replaces either.
    println(compactLine(total, vTotal, substitutedTotal,
      results.size, variants.size, cpus, errors.toSeq, sfDir,
      sidecarWritten))
    spark.stop()
  }

  /** The compact totals-only tail line. Pure so BenchGuardSpec can pin
    * the ≤1 KB bound at the full registry size; error names are capped
    * (first [[CompactMaxErrors]] + a count) so a mass-failure run cannot
    * push the line past the capture window either. */
  private[graft] val CompactMaxErrors = 8
  /** Longest escaped string the compact line carries per field: with
    * [[CompactMaxErrors]] names plus the two paths, ten such fields and
    * the fixed keys stay under 1 KB whatever the input characters. */
  private[graft] val CompactMaxChars = 48
  private[graft] def compactLine(total: Double, vTotal: Double,
      substitutedTotal: Double, nQueries: Int, nVariants: Int,
      cpus: Int, errors: Seq[String], sfDir: String,
      sidecar: Option[String]): String = {
    def r3(v: Double) = if (v < 0) "-1" else f"$v%.3f"
    // each string is cut to CompactMaxChars AFTER escaping; paths keep
    // their tail (the sf / file name is the part that differs)
    def str(v: String, keepTail: Boolean = false): String = {
      var n = 0
      val kept = (if (keepTail) v.reverseIterator else v.iterator)
        .map(c => jq(c.toString))
        .takeWhile { e => n += e.length; n <= CompactMaxChars }.toSeq
      "\"" + (if (keepTail) kept.reverse else kept).mkString + "\""
    }
    val errNames = errors.take(CompactMaxErrors)
      .map(str(_)).mkString("[", ",", "]")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""n_queries":$nQueries,"n_variants":$nVariants,""" +
      s""""variants_total":${r3(vTotal)},""" +
      s""""substituted_total":${r3(substitutedTotal)},""" +
      s""""cpus":$cpus,"n_errors":${errors.size},"errors":$errNames,""" +
      s""""queries_file":${str(sidecar.getOrElse(""), keepTail = true)},""" +
      s""""sf":${str(sfDir, keepTail = true)}}"""
  }

  /** JSON string-body escape: quote, backslash and control characters. */
  private[graft] def jq(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  /** Noise-window decision against the committed anchor JSON, pure so
    * BenchGuardSpec can pin the r11 failure shape. Trips when EITHER
    * (a) any canary query runs >1.5x its anchor time, or (b) the suite
    * total runs >1.3x the anchor total. (b) exists because (a) alone
    * demonstrably fails: three sub-second canaries sampled at three
    * instants missed a mid-suite co-tenant window that inflated the r11
    * join block 6-14x and the suite total 45% — the total integrates
    * noise over the whole run, so it catches windows the point samples
    * sit outside of. */
  private[graft] def noiseTrip(anchorJson: String, canaries: Seq[String],
      results: Map[String, Double], total: Double): Boolean = {
    def oldTime(q: String): Option[Double] =
      ("\"" + q + "\":([0-9.]+)").r.findFirstMatchIn(anchorJson)
        .map(_.group(1).toDouble)
    // The canary DENOMINATOR is floored at 0.1 s (mid historic clean
    // band, 0.076-0.13): the r18 golden anchor carried canaries as low
    // as 0.068 s, and against such an outlier a +45 ms scheduler
    // jitter reads as 1.66x — every representative future slot then
    // diverts as "noisy" (r18 verdict what's-wrong #2). A sub-100 ms
    // canary anchor measures jitter, not slot health; real co-tenant
    // windows (r17 plateau: canaries 1.3-2x of ~0.1-0.2 s) still trip.
    val canaryTrip = canaries.exists { q =>
      (oldTime(q), results.get(q)) match {
        case (Some(o), Some(n)) if o > 0 && n > 0 =>
          n > math.max(o, 0.1) * 1.5
        case _ => false
      }
    }
    val totalTrip =
      "\"value\":([0-9.]+)".r.findFirstMatchIn(anchorJson)
        .map(_.group(1).toDouble) match {
        case Some(o) if o > 0 && total > 0 => total > o * 1.3
        case _ => false
      }
    canaryTrip || totalTrip
  }
}
