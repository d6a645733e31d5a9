package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `l2sq(a, b)` — squared L2 distance Σ(aᵢ−bᵢ)² over two double arrays
  * as a native Catalyst expression, the distance twin of [[DotProduct]]
  * (same motivation, same contract): the PQ family evaluates a
  * subvector L2² per (pair, subspace) on its ADC/assignment/rerank hot
  * paths, and the declarative `aggregate(zip_with(...))` form walks two
  * lambda dispatches and an intermediate array per element — worse,
  * higher-order functions never enter whole-stage codegen, so the
  * arithmetic core of the scan runs interpreted. `doGenCode` emits the
  * hand-written loop; inside a higher-order lambda (pqAssign's per-j
  * argmin) the `nullSafeEval` loop still beats the nested-HOF form.
  *
  * Summation is sequential left-to-right over (a-b)², bit-identical to
  * the previous `aggregate(zip_with)` fold AND to the DuckDB oracle's
  * `list_sum(list_transform(...))` — swapping the implementation
  * changes no hash.
  *
  * Null contract (matches the `aggregate(zip_with)` form it replaced,
  * r18 advice): the result is NULL when either input is NULL, when the
  * two arrays have different lengths (zip_with pads the shorter side
  * with nulls → the fold goes NULL), or when any paired element is
  * NULL. `graft_l2sq` is registered as a general session function, so
  * callers outside the fixed-dim PQ paths must not silently receive a
  * truncated partial sum. The per-element null probe is only emitted
  * when the input array types admit null elements (`containsNull`) —
  * the PQ hot paths pay one length compare and, for parquet-sourced
  * arrays, a bitmap test per element.
  */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${L2Sq.FuncName} expects two array<double> args, got " +
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
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
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
         |    double $d = $x.getDouble($i) - $y.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

object L2Sq {
  val FuncName = "graft_l2sq"

  def apply(a: Column, b: Column): Column =
    GraftSessions.column(L2Sq(GraftSessions.expression(a), GraftSessions.expression(b)))
}
