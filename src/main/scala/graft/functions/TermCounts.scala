package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_termcounts(text, 'termlist')` — per-document term frequencies
  * for a FIXED term list as ONE codegen'd byte-scan, for sparse
  * retrieval (BM25). Returns `array<int>` of length `terms.size + 1`:
  * slot i = occurrences of `terms(i)` in the whitespace tokenization of
  * `text`, last slot = TOTAL token count (the BM25 `dl`).
  *
  * Why an expression (reference: the explode-prune shape of
  * query_handler-style ranked retrieval, re-planned Spark-first): the
  * `explode(all tokens) → filter(isin terms) → groupBy(doc, tok)`
  * formulation materializes a Generate row per corpus token and pays a
  * map-side hash-combine keyed on (doc, dl, tok) just to count within
  * one document. Term frequencies are DOC-LOCAL — this computes them
  * in-row (token runs matched against the term byte arrays, zero
  * allocation per token), so the only Generate left is a |terms|-slot
  * posexplode and the tf stage needs no aggregation at all. At 100 TB
  * that converts the retrieval prefix into a pure map over the corpus.
  *
  * Tokenization is byte-identical to
  * `filter(split(text, ' '), x -> x != '')`: maximal runs of non-0x20
  * bytes (0x20 never occurs inside a UTF-8 multi-byte sequence).
  * Matching is exact bytes (case-sensitive), same as `tok = 'term'`.
  */
case class TermCounts(child: Expression, terms: Seq[String])
    extends UnaryExpression {
  require(terms.nonEmpty && terms.forall(t => t.nonEmpty && !t.contains(" ")),
    "graft_termcounts needs non-empty, space-free terms")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${TermCounts.FuncName} expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val termBytes: Array[Array[Byte]] =
    terms.map(_.getBytes("UTF-8")).toArray

  override protected def nullSafeEval(t: Any): Any =
    TermCounts.count(t.asInstanceOf[UTF8String], termBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termBytes", termBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TermCounts.count($x, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {
  val FuncName = "graft_termcounts"

  /** Static so generated code calls it directly. One pass over the
    * text bytes; per token run, a length-gated memcmp against each term
    * (term lists here are query batches — a handful of entries; a big
    * list would swap in a byte-trie, same interface). */
  def count(text: UTF8String, terms: Array[Array[Byte]]): ArrayData = {
    val tb = text.getBytes
    val tlen = tb.length
    val nT = terms.length
    val out = new Array[Int](nT + 1)
    var i = 0
    while (i < tlen) {
      if (tb(i) != ' ') {
        val st = i
        while (i < tlen && tb(i) != ' ') i += 1
        out(nT) += 1 // total token count (dl)
        val wl = i - st
        var t = 0
        while (t < nT) {
          val term = terms(t)
          if (term.length == wl) {
            var j = 0
            while (j < wl && tb(st + j) == term(j)) j += 1
            if (j == wl) { out(t) += 1; t = nT } // a token matches ≤1 term
            else t += 1
          } else t += 1
        }
      } else i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** The SQL builder of `graft_termcounts(text, 'comma,joined,terms')`
    * ([[graft.GraftExtensions]] checks the arity): the terms must be a
    * string literal. */
  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    val ts = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, StringType) =>
        v.toString.split(",").toSeq
      case other => throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map("sqlExpr" -> s"\"$FuncName\"", "inputName" -> "`terms`",
          "inputType" -> "\"STRING\"", "inputExpr" -> s"\"${other.sql}\""))
    }
    TermCounts(exprs(0), ts)
  }

  /** `terms` must be comma-free, as in the SQL form's term list. */
  def apply(text: Column, terms: Seq[String]): Column = {
    require(terms.forall(!_.contains(",")), "terms must be comma-free")
    GraftSessions.column(TermCounts(GraftSessions.expression(text), terms))
  }
}
