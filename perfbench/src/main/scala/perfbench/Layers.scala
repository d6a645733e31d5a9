package perfbench

/** The per-layer metrics of a traced run. Every run reports every name;
  * a layer the workload never calls reads 0. Values are per traced op
  * unless the name says otherwise (ratios, peaks). */
object Layers {

  val StreamKeys: Seq[(String, String)] = Seq(
    "trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
    "planning_ms" -> "queryPlanning")

  def metrics(w: Workload, tracer: Tracer, spans: Seq[Span],
      ops: Seq[Main.OpRec], cores: Int): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced)
    val n = traced.length.max(1).toDouble
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).map(_.get)
    val jobs = spans.filter(_.name.startsWith("job."))
    def named(nm: String): Seq[Span] = spans.filter(_.name == nm)
    def ms(nm: String): Double = named(nm).map(s => s.end - s.start).sum / n
    def jobsUnder(pred: String => Boolean): Double =
      jobs.count(j => ancestors(j).exists(a => pred(a.name))).toDouble

    val profileCalls = spans.count(s =>
      s.name == "profiler.profile" || s.name == "profiler.sink")
    val profilerJobs = jobsUnder(a => a == "profiler.profile" || a == "profiler.sink")

    val profiler =
      Workloads.PassNames.map(p => (s"profiler.pass_ms.$p",
        w.layerSums.getOrElse(s"profiler.pass_ms.$p", 0.0) / n, "ms")) ++
      Seq(("profiler.jobs_per_profile",
          if (profileCalls == 0) 0.0 else profilerJobs / profileCalls, "count")) ++
      Seq("merge", "diff", "gate", "codec", "report").map(a =>
        (s"profiler.${a}_ms", ms(s"profiler.$a"), "ms")) ++
      Seq(("profiler.codec_bytes",
        w.layerSums.getOrElse("profiler.codec_bytes", 0.0) / n, "bytes"))

    val sources = Seq(("sources.load_ms", ms("sources.load"), "ms"))

    val progress = tracer.progress.toSeq
    val streaming =
      Seq(("streaming.batch_s",
        w.layerSums.getOrElse("streaming.batch_s", 0.0) / n, "s"),
        ("streaming.batches",
        progress.count(_.getOrElse("numInputRows", 0L) > 0) / n, "count")) ++
      StreamKeys.map { case (metric, key) =>
        (s"streaming.$metric", progress.map(_.getOrElse(key, 0L)).sum / n, "ms")
      }

    val operators = OperatorMix.Queries.flatMap { q =>
      Seq((s"operators.$q.s", ms(s"operators.$q") / 1000, "s"),
        (s"operators.$q.jobs", jobsUnder(_ == s"operators.$q") / n, "count"))
    }

    val t = tracer.tasks
    val jobIntervals = jobs.map(j => (j.start, j.end))
    val wallMs = traced.map(r => r.end - r.start).sum
    val coveredMs = traced.map(r => Pure.covered(jobIntervals, r.start, r.end)).sum
    val spark = Seq(
      ("spark.jobs", jobs.length / n, "count"),
      ("spark.stages", spans.count(_.name.startsWith("stage.")) / n, "count"),
      ("spark.tasks", t.tasks / n, "count"),
      ("spark.failed_tasks", t.failed / n, "count"),
      ("spark.job_covered_s", coveredMs / 1000 / n, "s"),
      ("spark.outside_jobs_s", (wallMs - coveredMs) / 1000 / n, "s"),
      ("spark.catalyst_ms", tracer.catalystMs / n, "ms"),
      ("spark.executor_run_s", t.runMs / 1000 / n, "s"),
      ("spark.executor_cpu_s", t.cpuNs / 1e9 / n, "s"),
      ("spark.gc_s", t.gcMs / 1000 / n, "s"),
      ("spark.core_busy_ratio",
        if (wallMs > 0) t.runMs / (wallMs * cores) else 0.0, "ratio"),
      ("spark.input_bytes", t.inputBytes / n, "bytes"),
      ("spark.shuffle_read_bytes", t.shuffleRead / n, "bytes"),
      ("spark.shuffle_write_bytes", t.shuffleWrite / n, "bytes"),
      ("spark.spill_bytes", t.spill / n, "bytes"),
      ("spark.peak_exec_mem_bytes", t.peakExecMem, "bytes"))

    // the JVM under the program: JIT compilation (elapsed, summed over
    // compiler threads) and the CPU of the compiler and collector threads
    val jvm = Seq(
      ("jvm.jit_s", traced.map(_.jit).sum / n, "s"),
      ("jvm.runtime_cpu_s", traced.map(_.runtimeCpu).sum / n, "s"))

    // wall times, which the end-to-end set leaves to op_cpu_s: medians over
    // the untraced ops of this run
    val plainOps = ops.filterNot(_.traced)
    val plain = plainOps.map(_.wall)
    val wall = Seq(
      ("op_wall_s", if (plain.isEmpty) 0.0 else Pure.median(plain), "s"),
      ("step_wall_s", if (plainOps.forall(_.steps.isEmpty)) 0.0
        else Pure.median(plainOps.filter(_.steps.nonEmpty).map(r => Pure.geomean(r.steps))), "s"))
    val overhead = Seq(("trace_overhead_ratio",
      if (plain.isEmpty || traced.isEmpty) 0.0
      else Pure.median(traced.map(_.wall)) / Pure.median(plain), "ratio"))

    profiler ++ sources ++ streaming ++ operators ++ spark ++ jvm ++ wall ++ overhead
  }
}
