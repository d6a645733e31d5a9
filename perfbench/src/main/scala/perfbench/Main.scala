package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client driving one workload
  * through the library's public entry points, on `local[<cores>]`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --data <dir> --result <file>
  *   [--record <dir>] [--train 1]
  * }}}
  *
  * `--train 1` runs one untimed op of every workload and exits; run.py
  * uses it to dump the class-data sharing archive.
  * Untraced (`--trace 0`) it times ops and writes the end-to-end metrics;
  * traced (`--trace 1`) it alternates untraced and traced ops and writes
  * the per-layer metrics from the traced ones. Either way it writes one
  * JSON line to `--result`; run.py prints it. */
object Main {

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got '$k'")
      k.drop(2) -> v
    }.toMap
  }

  /** Heap still in use after a full GC, in MB. Taken at the end of each
    * op, outside its clock: the GC also hands every op the same clean
    * heap. Readings taken after the collector's own young GCs depend on
    * when they fall and spread too widely to compare runs. */
  def heapAfterGcMb(): Double = {
    // each GC lets Spark's ContextCleaner release the op's shuffle and
    // broadcast state, which a later GC then frees: collect at least
    // three times, and on until the heap stops shrinking
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var best = used()
    var rounds = 1
    var shrank = true
    while (rounds < 3 || (shrank && rounds < 8)) {
      Thread.sleep(100)
      val next = used()
      shrank = next < best
      best = math.min(best, next)
      rounds += 1
    }
    best / 1048576.0
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "20000000")
      .config("spark.sql.session.timeZone", "UTC")
      // the status store keeps finished jobs, stages, tasks and queries
      // (up to 1000 jobs by default) even with the UI off; bounded, the
      // heap left after an op grows less with the number of ops run
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class OpRec(wall: Double, cpu: Double, runtimeCpu: Double, jit: Double,
      steps: Seq[Double], jobs: Int,
      traced: Boolean, errors: Seq[String], start: Double, end: Double,
      heapMb: Double)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val o = parse(args)
    val name = o("workload")
    require(Workloads.Names.contains(name),
      s"unknown workload '$name' (expected one of ${Workloads.Names.mkString(", ")})")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$t'")
    }
    val cores = Pure.parseCores(o("cores"))
    val work = Paths.get(o("work")).toAbsolutePath
    Files.createDirectories(work.resolve("tmp"))

    val spark = session(cores, work)
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, work, Paths.get(o("data")).toAbsolutePath, seed, tracer)
    if (o.contains("train")) {
      // untimed: one op of every workload, so the JVM that dumps the
      // class-data sharing archive has loaded what every run loads
      Workloads.Names.foreach { n =>
        val t = Workloads(n, ctx)
        t.prepare()
        t.op()
      }
      spark.stop()
      return
    }
    val w = Workloads(name, ctx)
    o.get("record") match {
      case Some(out) =>
        w match {
          case om: OperatorMix => om.record(Paths.get(out).toAbsolutePath)
          case _ => throw new IllegalArgumentException(
            "--record stores result digests; only operator_mix has them")
        }
        spark.stop()
        return
      case None => ()
    }
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)

    // ---- setup: session (once), inputs (three times), warm-up ----
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000
    val prepS = (1 to 3).map(_ => Workloads.secondsOf(w.prepare())._2)
    val (warmErrors, warmS) = Workloads.secondsOf(w.warmUp())
    val setupS = sessionS + Pure.median(prepS) + warmS
    warmErrors.foreach(e => System.err.println(s"[perfbench] warm-up check: $e"))

    // ---- measured ops, closed loop, one client ----
    val ops = ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def wantMore: Boolean = ops.length < w.minOps || System.nanoTime() < deadline ||
      (trace && ops.count(_.traced) == 0)
    while (wantMore) {
      val traced = trace && ops.length % 2 == 1
      spark.catalog.clearCache()
      tracer.setEnabled(traced)
      val j0 = counter.jobs.get
      val start = tracer.now
      val cpu0 = cpuNs()
      val jit0 = jitMs()
      val prog0 = ProcCpu.sample()
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val (res, err) =
        try (Some(tracer.span("op")(w.op())), None)
        catch { case e: Throwable => (None, Some(s"op threw $e")) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9
      val jit = (jitMs() - jit0) / 1e3
      val (progCpu, runtimeCpu) = ProcCpu.since(prog0)
      val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      val end = tracer.now
      tracer.setEnabled(false)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val jobs = counter.jobs.get - j0
      val heapMb = heapAfterGcMb()
      val errors = err.toSeq ++ res.toSeq.flatMap { r =>
        try r.check() catch { case e: Throwable => Seq(s"check threw $e") }
      }
      System.err.println(f"[perfbench] op ${ops.length}: wall $wall%.3f s, process cpu $cpu%.3f s, program cpu $progCpu%.3f s, runtime cpu $runtimeCpu%.3f s, jit $jit%.3f s, codegen compiles $cg, heap $heapMb%.1f MB")
      errors.foreach(e => System.err.println(s"[perfbench] op ${ops.length}: $e"))
      ops += OpRec(wall, progCpu, runtimeCpu, jit, res.map(_.steps).getOrElse(Nil), jobs, traced,
        errors, start, end, heapMb)
    }
    val peakHeapMb = ops.map(_.heapMb).max

    // every op of a run must launch the same jobs: a count that moves
    // means work (a fixture, a cache) landed inside a timed op
    val modeJobs = ops.groupBy(_.jobs).maxBy(_._2.length)._1
    val jobDrift = ops.map(_.jobs).distinct.length > 1
    if (jobDrift) System.err.println(
      s"[perfbench] job counts differ across ops: ${ops.map(_.jobs).mkString(",")}")
    val failed = ops.count(r => r.errors.nonEmpty || r.jobs != modeJobs)
    val correct = failed == 0 && warmErrors.isEmpty

    val steps = ops.toSeq.flatMap(_.steps)
    System.err.println(f"[perfbench] $name seed=$seed ops=${ops.length} " +
      f"steps=${steps.length} jobs/op=$modeJobs setup=$setupS%.3fs " +
      f"(session $sessionS%.3f, inputs ${prepS.map(x => f"$x%.3f").mkString("/")}, " +
      f"warm-up $warmS%.3f)")
    if (steps.nonEmpty) {
      val tail = Pure.tailPercentile(steps.length)
      System.err.println(f"[perfbench] step median=${Pure.median(steps)}%.4fs " +
        tail.map(p => f"p$p%s=${Pure.percentile(steps, p)}%.4fs").getOrElse("") +
        s" over ${steps.length} steps; op walls ${ops.map(r => f"${r.wall}%.3f").mkString(",")}")
    }

    val metrics =
      if (!trace) {
        val good = ops.filter(r => r.errors.isEmpty && r.steps.nonEmpty)
        val timed = (if (good.nonEmpty) good else ops).toSeq
        // CPU, not wall time: on a shared machine an op's wall time moves
        // with the neighbours' load by more than any bound worth setting;
        // the traced run reports the wall medians (op_wall_s, step_wall_s)
        Seq(("setup_s", setupS, "s"),
          ("op_cpu_s", Pure.median(timed.map(_.cpu)), "s"),
          ("peak_heap_mb", peakHeapMb, "MB"))
      } else {
        val spans = tracer.fullTrace
        val traceDir = Files.createDirectories(Paths.get(o("traces")))
        Files.writeString(traceDir.resolve(s"$name-seed$seed.json"), tracer.toJson(spans))
        Layers.metrics(w, tracer, spans, ops.toSeq, cores)
      }
    Files.writeString(Paths.get(o("result")),
      Pure.resultLine(correct, ops.length, failed, metrics) + "\n")
    spark.stop()
    System.err.println(f"[perfbench] stopped ${(System.currentTimeMillis() - jvmStartMs) / 1000}%.3f s after JVM start")
  }
}
