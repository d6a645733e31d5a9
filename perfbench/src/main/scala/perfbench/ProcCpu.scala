package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** CPU time of this JVM from /proc (Linux), split into the program's
  * threads (driver, Spark tasks, streams, futures) and the runtime's own
  * (JIT compiler and garbage collector, see [[Pure.isRuntimeThread]]).
  *
  * The program's share is the CPU the profiler and Spark spend on the
  * work. Unlike wall time it leaves out time the machine gives to other
  * tenants, and unlike whole-process CPU it leaves out the JIT compiler,
  * whose load in a young JVM swings with how far compilation has got. */
object ProcCpu {
  /** Kernel clock ticks per second (USER_HZ, 100 on Linux). */
  val TicksPerSecond = 100.0

  private val self: Path = Paths.get("/proc/self")

  private def ticks(stat: Path): Option[(String, Long)] =
    Try(Pure.statTicks(Files.readString(stat))).toOption

  /** Seconds of CPU used so far: (whole process, runtime threads). The
    * process figure includes threads that have already ended. */
  def sample(): (Double, Double) = {
    val total = ticks(self.resolve("stat")).map(_._2).getOrElse(0L)
    val tasks = Files.list(self.resolve("task"))
    val runtime =
      try tasks.iterator.asScala.flatMap(t => ticks(t.resolve("stat")))
        .collect { case (name, t) if Pure.isRuntimeThread(name) => t }.sum
      finally tasks.close()
    (total / TicksPerSecond, runtime / TicksPerSecond)
  }

  /** Seconds of CPU used since `from`: (program threads, runtime threads). */
  def since(from: (Double, Double)): (Double, Double) = {
    val (total, runtime) = sample()
    ((total - from._1) - (runtime - from._2), runtime - from._2)
  }
}
