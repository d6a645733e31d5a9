package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `BucketSum(bs, table)` — Σ table(b) over a bucket-id array, as one
  * codegen'd gather-add over a driver-built long table. The hashed-linear
  * scorer's per-doc logit is `Σ_{b∈doc} round(w_b·1e8)` (scaled-long
  * exact sums, the cross-engine determinism contract); the
  * `aggregate(bs, 0L, (acc,b) -> acc + round(element_at(w,b)·1e8))`
  * higher-order fold it replaces evaluates INTERPRETED per element (the
  * measured lesson behind WordGrams/IntersectCount). The per-bucket
  * scaled longs are a pure function of the iteration's constant weights,
  * so they are computed ONCE driver-side — bit-identically to what the
  * old fold computed per element — and the executor work collapses to
  * an array index + long add per bucket.
  *
  * Caller contract: every element of `bs` is in [0, table.length).
  *
  * The table is an `IndexedSeq`, not an `Array`: case-class params of
  * array type compare by REFERENCE, so two structurally identical
  * BucketSums would never be `equals`/`semanticEquals` and Catalyst
  * canonicalization + common-subexpression elimination could not
  * dedup them. Eval/codegen use the derived [[tableArr]]. */
case class BucketSum(child: Expression, table: IndexedSeq[Long])
    extends UnaryExpression {

  private lazy val tableArr: Array[Long] = table.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"BucketSum expects array<bigint>, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any): Any =
    BucketSum.sum(a.asInstanceOf[ArrayData], tableArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bucketTable", tableArr, "long[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.BucketSum.sum($x, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): BucketSum =
    copy(child = newChild)
}

object BucketSum {
  val FuncName = "graft_bucketsum"

  /** Static so generated code calls it directly. */
  def sum(bs: ArrayData, table: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    val n = bs.numElements()
    while (i < n) { acc += table(bs.getLong(i).toInt); i += 1 }
    acc
  }

  /** The SQL builder of `graft_bucketsum(bs, 'comma,joined,longs')`
    * ([[graft.GraftExtensions]] checks the arity): the table must be a
    * non-empty string literal. */
  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    val table = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.unsafe.types.UTF8String,
          org.apache.spark.sql.types.StringType) =>
        val raw = v.toString
        def bad(): Nothing = throw new org.apache.spark.sql.AnalysisException(
          "INVALID_PARAMETER_VALUE.LONG",
          Map("parameter" -> "`table`", "functionName" -> s"`$FuncName`",
            "invalidValue" -> s"'$raw'"))
        if (raw.trim.isEmpty) bad() // empty table: every probe would be OOB
        try raw.split(",").map(_.trim.toLong).toIndexedSeq
        catch { case _: NumberFormatException => bad() }
      case other => throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map("sqlExpr" -> s"\"$FuncName\"", "inputName" -> "`table`",
          "inputType" -> "\"STRING\"", "inputExpr" -> s"\"${other.sql}\""))
    }
    BucketSum(exprs(0), table)
  }

  def apply(bs: Column, table: Array[Long]): Column = {
    require(table.nonEmpty, s"$FuncName needs a non-empty table")
    GraftSessions.column(BucketSum(GraftSessions.expression(bs), table.toIndexedSeq))
  }
}
