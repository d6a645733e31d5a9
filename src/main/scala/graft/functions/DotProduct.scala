package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `dot(a, b)` over two double arrays as a native Catalyst expression.
  *
  * The similarity operators' hot path evaluates a 64-dim dot product per
  * candidate pair. The declarative forms both lose: `aggregate(zip_with)`
  * allocates an intermediate array and walks lambda-bound variables per
  * element; a 64-term unrolled `a[0]*b[0] + …` nests the codegen'd Add
  * chain so deep it falls back to interpreted eval. `doGenCode` below
  * emits the loop you would write by hand — no allocation, no lambda
  * dispatch, stays inside whole-stage codegen.
  *
  * Summation is sequential left-to-right, bit-identical to the DuckDB
  * oracle's `list_sum(list_transform(...))` fold.
  *
  * Null contract (same as [[graft.functions.L2Sq]], r18 advice): NULL
  * on NULL input, unequal lengths, or (when the array types admit
  * them) a NULL element — `graft_dot` is a general session function
  * and must not hand a truncated partial sum to callers outside the
  * fixed-dim similarity paths.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${DotProduct.FuncName} expects two array<double> args, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elementsNullable: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val checkNulls = elementsNullable
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val nullProbe =
        if (elementsNullable)
          s"""if ($x.isNullAt($i) || $y.isNullAt($i)) {
             |    ${ev.isNull} = true; break;
             |  }""".stripMargin
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullProbe
         |    $s += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  val FuncName = "graft_dot"

  def apply(a: Column, b: Column): Column =
    GraftSessions.column(DotProduct(GraftSessions.expression(a), GraftSessions.expression(b)))
}
