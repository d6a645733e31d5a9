package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** `AdcLut(codes, lut)` — the PQ asymmetric-distance gather for ONE
  * query: Σ_m lut(m·K + codes(m)) over a vector's code array, as one
  * codegen'd lookup-add loop over a driver-built double table (the
  * classic ADC lookup-table trick, Jégou et al. 2011 §IV-A).
  *
  * The per-query table lut(m·K + j) = ‖q_m − centroid(m, j)‖² is a pure
  * function of the (iteration-constant) codebook and the query vector,
  * so it is computed ONCE driver-side — with the same left-to-right
  * (a−b)² accumulation as [[L2Sq]], hence bit-identical per entry to
  * what the pre-r19 plan computed per (query, vector, subspace) row.
  * Summation over m is sequential ascending — the same order the old
  * `groupBy(q_id, vec_id).agg(sum(l2sq(...)))` produced, because the
  * posexploded subvector rows of one vector arrive in m order within
  * one map task and partial aggregation folds them in encounter order.
  * The executor work per (vector, query) collapses from M subvector
  * L2² evaluations on M joined rows to M array reads + M adds on the
  * vector's single row — and the broadcast codebook join, the query
  * subvector join, and the (q_id, vec_id) aggregation exchange all
  * disappear from the plan (PqPlanSpec pins the ADC stage shuffle-free
  * up to the top-k window).
  *
  * Caller contract (like [[BucketSum]]): every element of `codes` is in
  * [0, K) and lut.length = M·K with M = codes length. NULL input array
  * → NULL (UnaryExpression's default null propagation); `codes` is
  * produced by the PQ assignment projection and never carries null
  * elements.
  *
  * `lut` is an IndexedSeq so structurally identical expressions stay
  * `equals`/canonicalizable (the BucketSum lesson). */
case class AdcLut(child: Expression, lut: IndexedSeq[Double])
    extends UnaryExpression {

  private lazy val lutArr: Array[Double] = lut.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${AdcLut.FuncName} expects array<int>, got ${t.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any): Any =
    AdcLut.sum(a.asInstanceOf[ArrayData], lutArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcLut", lutArr, "double[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.AdcLut.sum($x, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): AdcLut =
    copy(child = newChild)
}

object AdcLut {
  val FuncName = "graft_adclut"

  /** Static so generated code calls it directly. K is derived as
    * lut.length / codes.length (the table is exactly M stripes of K).
    * `graft_adclut` is registered as a session function, so an external
    * caller can reach this with arbitrary inputs: a table that is not an
    * exact multiple of the code count would silently gather with a
    * truncated stripe width, and an out-of-range code would throw a raw
    * ArrayIndexOutOfBoundsException — both now raise a descriptive
    * error instead (r19 advice). The two guards cost one divisibility
    * check per row and one never-taken compare per element; the PQ hot
    * path is unaffected (its codes are argmin indices in [0, K) by
    * construction). */
  def sum(codes: ArrayData, lut: Array[Double]): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val k = lut.length / m
    if (k * m != lut.length)
      throw new IllegalArgumentException(
        s"$FuncName: lut length ${lut.length} is not a multiple of the " +
          s"codes length $m (the table must be exactly M stripes of K)")
    var acc = 0.0
    var i = 0
    while (i < m) {
      val c = codes.getInt(i)
      if (c < 0 || c >= k)
        throw new IllegalArgumentException(
          s"$FuncName: code $c at position $i is outside [0, $k)")
      acc += lut(i * k + c); i += 1
    }
    acc
  }

  /** The SQL builder of `graft_adclut(codes, 'comma,joined,doubles')`
    * ([[graft.GraftExtensions]] checks the arity): the table must be a
    * string literal of `java.lang.Double.toString` values. */
  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    val lut = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.unsafe.types.UTF8String,
          org.apache.spark.sql.types.StringType) =>
        val raw = v.toString
        def bad(): Nothing = throw new org.apache.spark.sql.AnalysisException(
          "INVALID_PARAMETER_VALUE.DOUBLE",
          Map("parameter" -> "`lut`", "functionName" -> s"`$FuncName`",
            "invalidValue" -> s"'$raw'"))
        if (raw.trim.isEmpty) bad()
        try raw.split(",").map(_.trim.toDouble).toIndexedSeq
        catch { case _: NumberFormatException => bad() }
      case other => throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map("sqlExpr" -> s"\"$FuncName\"", "inputName" -> "`lut`",
          "inputType" -> "\"STRING\"", "inputExpr" -> s"\"${other.sql}\""))
    }
    AdcLut(exprs(0), lut)
  }

  def apply(codes: Column, lut: Array[Double]): Column = {
    require(lut.nonEmpty, s"$FuncName needs a non-empty table")
    GraftSessions.column(AdcLut(GraftSessions.expression(codes), lut.toIndexedSeq))
  }
}
