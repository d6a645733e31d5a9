package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** `stream_neardup` runs its micro-batches on the session that called it,
  * not on the stream's clone session (which is new at every `start()`
  * and has its own executor class loader, a key of Spark's codegen
  * cache). So a second run on the same session finds every generated
  * class it needs already compiled. */
class StreamNearDupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a repeat stream_neardup on one session compiles nothing") {
    def run() = SparkEntry.queries("stream_neardup")(spark, SparkTestSession.sfDir)
      .collect().toSeq
    val first = run()
    assert(first.length == 4, s"expected one census row per batch: $first")
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    assert(second == first)
    assert(compiles == 0, s"the repeat run compiled $compiles classes")
  }
}
