package org.apache.spark.sql

/** Test-scope bridge to private[sql] code generation. */
object GraftExtensionsBridge {
  /** Force-compile every WholeStageCodegen stage of `df`'s executed
    * plan through Janino (the exact source + compiler path of a real
    * run) and return the compiled stages. Throws on ANY compile
    * failure — unlike execution, which (with the default
    * `spark.sql.codegen.fallback=true`) swallows the error and
    * silently runs the whole stage interpreted. `doCodeGen` and
    * `CodeGenerator.compile` are private[sql], hence this bridge. */
  def compileAllStages(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.WholeStageCodegenExec] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect() // materialize so AQE finalizes stages (codegen collapses per stage)
    def stages(p: SparkPlan): Seq[WholeStageCodegenExec] = p.collect {
      case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
      case q: QueryStageExec => stages(q.plan) // leaf node: plan is not a child
      case w: WholeStageCodegenExec => Seq(w)
    }.flatten
    val found = stages(df.queryExecution.executedPlan)
    found.foreach { w => CodeGenerator.compile(w.doCodeGen()._2) }
    found
  }
}
