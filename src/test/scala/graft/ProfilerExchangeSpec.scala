package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.profiler.{Profiler, ProfilerOptions}

/** Every exchange a profile call plans carries aggregation buffers, never
  * raw rows: each `ShuffleExchangeExec` sits directly over a partial
  * aggregate (one buffer row per map task, or per map task and group).
  * The profiler turns AQE off on that ground (`Profiler.withAqeOff`);
  * the split segment pass ships head rows inside its buffers, so this
  * pins that they stay there. */
class ProfilerExchangeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case n => n
  }

  /** The exchanges `body` executes, each with the plan right below it. */
  private def exchangesOf(body: => Unit): Seq[(ShuffleExchangeExec, SparkPlan)] = {
    val (_, execs) = SparkTestSession.executions(body)
    execs.flatMap(_.executedPlan.collect {
      case e: ShuffleExchangeExec => e -> unwrap(e.child)
    })
  }

  private def assertPartialBelow(what: String)(body: => Unit): Unit = {
    val exchanges = exchangesOf(body)
    assert(exchanges.nonEmpty, s"$what: no exchange planned")
    exchanges.foreach { case (e, below) =>
      val partial = below match {
        case a: BaseAggregateExec =>
          a.requiredChildDistributionExpressions.isEmpty &&
            a.aggregateExpressions.forall(_.mode == Partial)
        case _ => false
      }
      assert(partial, s"$what: an exchange over raw rows:\n$e")
    }
  }

  test("every profiler exchange sits over a partial aggregate") {
    val li = Tables.load(spark, SparkTestSession.sfDir, "lineitem")
    assertPartialBelow("profile")(Profiler.profile(li))
    for (k <- Seq(2, 200))
      assertPartialBelow(s"profileSplit, $k groups")(Profiler.profileSplit(
        li.withColumn("__k", col("l_orderkey") % k), "__k"))
    // the category melt: 24 values whose lgK-4 estimate qualifies them at
    // maxCategories 10 but pass the pass-1 counter's ceiling of 23
    import spark.implicits._
    val melt = (Seq(0, 1, 2, 3, 4, 5, 6, 7, 8, 11, 20, 21, 22, 23, 25, 27, 28, 32,
      34, 42, 43, 47, 49, 50).map(i => (0L, s"v$i")) :+ ((1L, "a"))).toDF("__g", "c")
    val whole = melt.filter(col("__g") === 0L).drop("__g")
    val capOpts = ProfilerOptions(maxCategories = 10, ndvRsd = 0.26)
    assert(Profiler.profile(whole, capOpts).column("c").get
      .categorical.exists(_.counts.size == 24), "the melt did not run")
    assertPartialBelow("profile with the category melt")(Profiler.profile(whole, capOpts))
    assertPartialBelow("profileSplit with the category melt")(
      Profiler.profileSplit(melt, "__g", capOpts))
  }
}
