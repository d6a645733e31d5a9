package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Null contract of the native array-math expressions (r18 advice):
  * `graft_dot` / `graft_l2sq` are registered as GENERAL session
  * functions, so they must return NULL — not a truncated partial
  * sum — on unequal-length arrays or null elements, exactly like the
  * `aggregate(zip_with(...))` HOF forms they replaced on the hot
  * paths. Driven through a repartitioned DataFrame so both the
  * whole-stage-codegen path (doGenCode) and, via the HOF argmin
  * shape, the interpreted path (nullSafeEval) are exercised.
  */
class ArrayMathNullSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def probe(sql: String): Seq[Row] = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val rows = Seq(
      Row(Seq(1.0, 2.0), Seq(3.0, 4.0)),           // equal, clean
      Row(Seq(1.0, 2.0, 5.0), Seq(3.0, 4.0)),      // unequal lengths
      Row(Seq(1.0, null), Seq(3.0, 4.0)),          // null element
      Row(null, Seq(3.0, 4.0)))                    // null input
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(
          Option(r.get(0)).map(_.asInstanceOf[Seq[Any]]).orNull,
          Option(r.get(1)).map(_.asInstanceOf[Seq[Any]]).orNull)), 1),
        schema)
      .createOrReplaceTempView("am_probe")
    spark.sql(sql).collect().toSeq
  }

  test("dot/l2sq: value on clean rows, NULL on mismatch/null — codegen path") {
    val rs = probe(
      """SELECT graft_dot(a, b) AS d, graft_l2sq(a, b) AS l
        |FROM am_probe""".stripMargin)
    assert(rs(0).getDouble(0) == 11.0 && rs(0).getDouble(1) == 8.0)
    (1 to 3).foreach { i =>
      assert(rs(i).isNullAt(0), s"dot row $i should be NULL")
      assert(rs(i).isNullAt(1), s"l2sq row $i should be NULL")
    }
  }

  test("dot/l2sq: same contract on the interpreted (HOF-lambda) path") {
    // inside transform()'s lambda the expression evaluates via
    // nullSafeEval (pqAssign's per-j argmin shape)
    val rs = probe(
      """SELECT transform(array(0), j -> graft_dot(a, b))[0] AS d,
        |       transform(array(0), j -> graft_l2sq(a, b))[0] AS l
        |FROM am_probe""".stripMargin)
    assert(rs(0).getDouble(0) == 11.0 && rs(0).getDouble(1) == 8.0)
    (1 to 3).foreach { i =>
      assert(rs(i).isNullAt(0), s"dot row $i should be NULL")
      assert(rs(i).isNullAt(1), s"l2sq row $i should be NULL")
    }
  }

  test("containsNull=false arrays skip the per-element probe but keep length NULL") {
    import spark.implicits._
    // toDF on Seq[Double] yields containsNull=false element types
    val df = Seq((Seq(1.0, 2.0), Seq(3.0)), (Seq(1.0, 2.0), Seq(3.0, 4.0)))
      .toDF("a", "b").repartition(1)
    df.createOrReplaceTempView("am_nn")
    val rs = spark.sql(
      "SELECT graft_dot(a, b) AS d, graft_l2sq(a, b) AS l FROM am_nn")
      .collect().sortBy(r => if (r.isNullAt(0)) 0 else 1)
    assert(rs(0).isNullAt(0) && rs(0).isNullAt(1))
    assert(rs(1).getDouble(0) == 11.0 && rs(1).getDouble(1) == 8.0)
  }
}
