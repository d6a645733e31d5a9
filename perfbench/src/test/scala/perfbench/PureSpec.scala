package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class PureSpec extends AnyFunSuite {

  test("median and percentile interpolate between closest ranks") {
    assert(Pure.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Pure.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Pure.percentile(Seq(0.0, 10.0), 25) == 2.5)
    assert(Pure.percentile((1 to 101).map(_.toDouble), 90) == 91.0)
    assertThrows[IllegalArgumentException](Pure.median(Nil))
  }

  test("geometric mean of per-query step times") {
    assert(math.abs(Pure.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Pure.geomean(Seq(7.5)) - 7.5) < 1e-12)
    assertThrows[IllegalArgumentException](Pure.geomean(Nil))
    assertThrows[IllegalArgumentException](Pure.geomean(Seq(1.0, 0.0)))
  }

  test("tail percentile: the highest rung with at least 10 samples beyond it") {
    assert(Pure.tailPercentile(0).isEmpty)
    assert(Pure.tailPercentile(19).isEmpty)
    assert(Pure.tailPercentile(20).contains(50.0))
    assert(Pure.tailPercentile(39).contains(50.0))
    assert(Pure.tailPercentile(40).contains(75.0))
    assert(Pure.tailPercentile(100).contains(90.0))
    assert(Pure.tailPercentile(199).contains(90.0))
    assert(Pure.tailPercentile(200).contains(95.0))
    assert(Pure.tailPercentile(999).contains(95.0))
    assert(Pure.tailPercentile(1000).contains(99.0))
    assert(Pure.tailPercentile(10000).contains(99.9))
    assert(Pure.tailPercentile(25, beyond = 5).contains(75.0))
  }

  test("union of job intervals merges overlaps and keeps gaps") {
    assert(Pure.union(Nil).isEmpty)
    assert(Pure.union(Seq((5.0, 6.0), (1.0, 3.0), (2.0, 4.0))) ==
      Seq((1.0, 4.0), (5.0, 6.0)))
    // nested and touching intervals, and an empty one that adds nothing
    assert(Pure.union(Seq((0.0, 10.0), (2.0, 3.0), (10.0, 12.0), (7.0, 7.0))) ==
      Seq((0.0, 12.0)))
    assert(Pure.covered(Seq((1.0, 3.0), (2.0, 5.0), (8.0, 9.0)), 0, 10) == 5.0)
    // clipped to the window: outside_jobs_s = wall - covered
    assert(Pure.covered(Seq((-5.0, 2.0), (9.0, 20.0)), 0, 10) == 3.0)
    assert(Pure.covered(Seq((11.0, 12.0)), 0, 10) == 0.0)
  }

  test("span self time subtracts the union of its children, clipped") {
    assert(Pure.selfTime(0, 10, Nil) == 10.0)
    assert(Pure.selfTime(0, 10, Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0))) == 4.0)
    assert(Pure.selfTime(0, 10, Seq((0.0, 10.0), (3.0, 4.0))) == 0.0)
  }

  test("metric names are [A-Za-z0-9_.-]+, start with a letter or digit, <= 64 chars") {
    Seq("setup_s", "spark.jobs", "operators.json_scan.s", "profiler.pass_ms.vocab",
      "trace_overhead_ratio", "9lives", "a-b").foreach(n => assert(Pure.validName(n), n))
    Seq("", "has space", ".dot", "_x", "x/y", "ünï", "a" * 65)
      .foreach(n => assert(!Pure.validName(n), n))
    assertThrows[IllegalArgumentException](
      Pure.resultLine(true, 1, 0, Seq(("bad name", 1.0, "s"))))
  }

  test("every name BENCHMARK.json declares is valid and used once") {
    val f = java.nio.file.Paths.get("..", "BENCHMARK.json")
    assume(java.nio.file.Files.exists(f), "BENCHMARK.json beside perfbench/")
    val names = "\"name\":\\s*\"([^\"]*)\"".r
      .findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1)).toSeq
    assert(names.nonEmpty)
    names.foreach(n => assert(Pure.validName(n), n))
    assert(names.distinct == names)
  }

  test("JSON strings escape quotes, backslashes and every control character") {
    assert(Pure.jsonString("plain") == "\"plain\"")
    assert(Pure.jsonString("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Pure.jsonString("l1\nl2\r\t") == "\"l1\\nl2\\r\\t\"")
    assert(Pure.jsonString("\u0001\u001f") == "\"\\u0001\\u001f\"")
    val out = Pure.jsonString((0 until 32).map(_.toChar).mkString)
    assert(!out.exists(_ < ' '))
  }

  test("the result line carries exactly the four keys and full-precision numbers") {
    val line = Pure.resultLine(correct = true, attempted = 3, failed = 0,
      Seq(("op_s", 1.2345678901234, "s"), ("spark.jobs", 36.0, "count")))
    assert(line == "{\"correct\": true, \"attempted\": 3, \"failed\": 0, " +
      "\"metrics\": {\"op_s\": {\"value\": 1.2345678901234, \"unit\": \"s\"}, " +
      "\"spark.jobs\": {\"value\": 36, \"unit\": \"count\"}}}")
    assertThrows[IllegalArgumentException](
      Pure.resultLine(true, 1, 0, Seq(("x", Double.NaN, "s"))))
  }

  test("the core count parses as a positive integer or fails clearly") {
    assert(Pure.parseCores("4") == 4)
    assert(Pure.parseCores(" 16\n") == 16)
    Seq("", "four", "4.0", "0", "-2", "99999999999").foreach { s =>
      val e = intercept[IllegalArgumentException](Pure.parseCores(s))
      assert(e.getMessage.contains("--cores must be a positive integer"), s)
    }
  }

  test("thread CPU ticks come from fields 14 and 15 of a /proc stat line") {
    val line = "4242 (C2 CompilerThre) S 1 2 3 0 -1 4194368 5 0 0 0 1234 56 0 0 20 0 30 0 7"
    assert(Pure.statTicks(line) == (("C2 CompilerThre", 1290L)))
    // a name holding spaces and parentheses
    assert(Pure.statTicks("7 (a) b (c) R 1 2 3 0 -1 0 0 0 0 0 10 5 0 0") == (("a) b (c", 15L)))
    intercept[IllegalArgumentException](Pure.statTicks("garbage"))
    Seq("C1 CompilerThre", "C2 CompilerThre", "GC Thread#3", "G1 Conc#0", "VM Thread")
      .foreach(n => assert(Pure.isRuntimeThread(n), n))
    Seq("main", "Executor task l", "stream execution", "ForkJoinPool-1-w")
      .foreach(n => assert(!Pure.isRuntimeThread(n), n))
  }

  test("result digests ignore column and row order and float noise past 9 digits") {
    val a = Digest.of(Seq("b", "a"), Seq(Row(2.0, "x"), Row(1.0 / 3, "y")))
    val b = Digest.of(Seq("a", "b"), Seq(Row("y", 0.3333333333333), Row("x", 2.0)))
    assert(a == b)
    assert(a != Digest.of(Seq("a", "b"), Seq(Row("y", 0.3334), Row("x", 2.0))))
    assert(Digest.render(null) == "null")
    assert(Digest.render(Seq(1.0, null)) == "[1,null]")
    assert(Digest.double(-0.0) == "0")
  }
}
