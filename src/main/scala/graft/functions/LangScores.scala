package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_langscores(text, 'en:the,a,...;es:...;zh:')` — every language
  * profile scored in ONE codegen'd byte-scan. The heuristic langid's
  * per-language `size(filter(split(text,' '), w -> w IN words))` (and
  * the per-token CJK `rlike` for zh) evaluates an interpreted lambda per
  * token PER LANGUAGE; this walks the text once, resolves each token by
  * a single hash lookup into a word → language-bitmask table (zero-copy
  * UTF8String views over the text bytes), and counts CJK-bearing tokens
  * for the empty-profile language by decoding 3-byte UTF-8 sequences
  * in the U+4E00–U+9FFF block directly.
  *
  * Tokenization parity: `split(text, ' ')` segments (single-space
  * separators; empty segments can never match a word or contain a CJK
  * codepoint, so counting maximal non-space runs is equivalent).
  * Returns `array<int>` of per-profile scores in profile order.
  */
case class LangScores(child: Expression, profiles: Seq[(String, Seq[String])])
    extends UnaryExpression {
  require(profiles.nonEmpty && profiles.size <= 31,
    "graft_langscores supports 1..31 profiles (bitmask-indexed)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${LangScores.FuncName} expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val wordMask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    profiles.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val u = UTF8String.fromString(w)
        val prev = m.get(u)
        m.put(u, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }

  /** Index of the empty-profile (CJK-scored) language, or -1. */
  @transient private lazy val cjkIdx: Int =
    profiles.indexWhere(_._2.isEmpty)

  override protected def nullSafeEval(t: Any): Any =
    LangScores.score(t.asInstanceOf[UTF8String], wordMask, cjkIdx,
      profiles.size)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("wordMask", wordMask,
      classOf[java.util.HashMap[_, _]].getName)
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.LangScores.score($x, $mapRef, " +
        s"$cjkIdx, ${profiles.size});")
  }

  override protected def withNewChildInternal(newChild: Expression): LangScores =
    copy(child = newChild)
}

object LangScores {
  val FuncName = "graft_langscores"

  /** Static so generated code calls it directly. */
  def score(text: UTF8String, wordMask: java.util.HashMap[UTF8String, Integer],
      cjkIdx: Int, nLangs: Int): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    val out = new Array[Int](nLangs)
    var i = 0
    while (i < n) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) != ' ') {
        val st = i
        var hasCjk = false
        while (i < n &&
            org.apache.spark.unsafe.Platform.getByte(base, off + i) != ' ') {
          if (cjkIdx >= 0) {
            // CJK Unified (U+4E00..U+9FFF): 3-byte UTF-8, lead 0xE4..0xE9
            val b = org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xFF
            if (b >= 0xE4 && b <= 0xE9 && i + 2 < n) {
              val b1 = org.apache.spark.unsafe.Platform.getByte(base, off + i + 1) & 0xFF
              val b2 = org.apache.spark.unsafe.Platform.getByte(base, off + i + 2) & 0xFF
              if ((b1 & 0xC0) == 0x80 && (b2 & 0xC0) == 0x80) {
                val cp = ((b & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F)
                if (cp >= 0x4E00 && cp <= 0x9FFF) hasCjk = true
              }
            }
          }
          i += 1
        }
        // zero-copy token view over the text bytes for the map lookup
        val tok = UTF8String.fromAddress(base, off + st, i - st)
        val mask = wordMask.get(tok)
        if (mask != null) {
          val mv = mask.intValue()
          var l = 0
          while (l < nLangs) {
            if ((mv & (1 << l)) != 0) out(l) += 1
            l += 1
          }
        }
        if (hasCjk) out(cjkIdx) += 1
      } else i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** The SQL builder of `graft_langscores(text, 'lang:w1,w2;lang2:...')`
    * ([[graft.GraftExtensions]] checks the arity): the profiles must be a
    * string literal; a language with an empty word list is scored by
    * CJK-token count. */
  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    val profiles = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, StringType) =>
        v.toString.split(";", -1).toSeq.map { part =>
          val Array(lang, ws @ _*) = part.split(":", -1): @unchecked
          lang -> ws.headOption.filter(_.nonEmpty)
            .map(_.split(",").toSeq).getOrElse(Seq.empty)
        }
      case other => throw new org.apache.spark.sql.AnalysisException(
        "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        Map("sqlExpr" -> s"\"$FuncName\"", "inputName" -> "`profiles`",
          "inputType" -> "\"STRING\"", "inputExpr" -> s"\"${other.sql}\""))
    }
    LangScores(exprs(0), profiles)
  }

  def apply(text: Column, profiles: Seq[(String, Seq[String])]): Column = {
    // the SQL form's encoding reserves ';' ':' ',', so a profile holding
    // one is rejected here too: both forms take the same profiles
    require(profiles.forall { case (l, ws) =>
      !l.exists(";:,".contains(_)) &&
        ws.forall(w => !w.exists(";:,".contains(_)))
    }, s"$FuncName profile langs/words must not contain ';' ':' ','")
    GraftSessions.column(LangScores(GraftSessions.expression(text), profiles))
  }
}
