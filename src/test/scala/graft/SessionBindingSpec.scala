package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.labelers.{DataLabeler, NgramBayes, RegexLabeler}

/** A graft Column binds its expression directly, so it runs on any
  * session that shares the SparkContext: a `newSession()` child has
  * none of its parent's temp functions and is neither the active nor
  * the default session. */
class SessionBindingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val columns: Seq[(String, Column)] = Seq(
    "RegexLabeler.labelOf" -> RegexLabeler.labelOf(col("cell")),
    "DataLabeler.TwoStageModel.label" -> DataLabeler.TwoStageModel.label(col("cell")),
    "NgramBayes.grams" -> NgramBayes.grams(col("cell")),
    "DotProduct" -> functions.DotProduct(col("a"), col("b")),
    "MinHashSig md5" -> functions.MinHashSig(col("cell"), md5 = true),
    "MinHashSig xx" -> functions.MinHashSig(col("cell"), md5 = false))

  private def frameOn(session: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("cell", StringType),
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType))))
    val rows = java.util.Arrays.asList(
      Row("u@example.com", Seq(1.0, 2.0), Seq(3.0, 4.0)),
      Row("noted: 555-12-3456.", Seq(0.5), Seq(2.0)),
      Row(null, null, Seq(1.0)))
    session.createDataFrame(rows, schema)
  }

  private def rowsOn(session: SparkSession, c: Column): Seq[Row] =
    frameOn(session).select(c.as("r")).collect().toSeq

  test("graft Columns contain no function lookup by name") {
    for ((name, c) <- columns) {
      val plan = frameOn(spark).select(c.as("r")).queryExecution.logical
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[UnresolvedFunction]))),
        name)
    }
  }

  test("graft Columns return the same rows on a newSession() child") {
    val child = spark.newSession()
    assert(!SparkSession.getActiveSession.contains(child))
    assert(!SparkSession.getDefaultSession.contains(child))
    for ((name, c) <- columns)
      assert(rowsOn(child, c) == rowsOn(spark, c), name)
  }
}
