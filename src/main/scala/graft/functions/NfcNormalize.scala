package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_nfc(s)` — Unicode NFC normalization as a native Catalyst
  * expression (Spark SQL ships no normalizer function; DuckDB's
  * `nfc_normalize` is the oracle twin).
  *
  * Training pipelines normalize before fingerprinting/dedup (CCNet §3.1
  * and C4 both lowercase-normalize text before hashing) because visually
  * identical strings with composed vs decomposed accents hash apart —
  * the `text_normalize` query measures exactly that collision census.
  * One static `java.text.Normalizer` call per row, inside whole-stage
  * codegen. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"${NfcNormalize.FuncName} expects string, got " +
        child.dataType.simpleString)

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(),
         |    java.text.Normalizer.Form.NFC));""".stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
}

object NfcNormalize {
  val FuncName = "graft_nfc"

  def apply(c: Column): Column = GraftSessions.column(NfcNormalize(GraftSessions.expression(c)))
}
