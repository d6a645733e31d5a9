package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `graft_minhash(text)` → the 16-perm MinHash signature of a document's
  * 5-char shingles, in ONE document-local pass.
  *
  * MinHash signatures are per-document state: nothing about
  * `min_p(h(shingle))` needs to leave the row. The declarative
  * formulation (position explode → hash projection → 16-column min
  * groupBy) pushes |doc|·|shingles| rows through a generator, a
  * projection, and a hash-aggregate exchange just to compute a value
  * each map task already had locally. This expression walks the
  * document's UTF-8 bytes once, hashes each 5-char window in place
  * (no substring copies; char-boundary walk only when non-ASCII), and
  * maintains the 16 running minima in a local array — the signature
  * pass becomes map-only and the first shuffle in the MinHash pipeline
  * carries one 16-long row per DOCUMENT, not one row per shingle.
  *
  * Two hash families, selected at construction:
  *  - `md5 = true`: seeds from the md5 digest's 32-bit halves
  *    ([[Md5AB]] semantics) — bit-identical to the DuckDB oracle.
  *  - `md5 = false`: seeds from xxhash64 (seed 42, identical to Spark's
  *    `xxhash64`) — the production path, no digest cost.
  * Both then apply the universal family `(a + p·(b|1)) mod 2³²`,
  * matching the composed-expression and oracle arithmetic exactly
  * (shingle positions `1..max(len-4, 1)`, short-text tail included).
  */
case class MinHashSig(child: Expression, md5: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${MinHashSig.FuncName} expects a string arg, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(s: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(MinHashSig.sig(s.asInstanceOf[UTF8String], md5))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.MinHashSig.sig($s, $md5));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val FuncName = "graft_minhash"
  val NumPerm = 16
  val ShingleLen = 5
  private val Mod = 4294967296L

  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def sig(text: UTF8String, md5: Boolean): Array[Long] = {
    val nBytes = text.numBytes
    val nChars = text.numChars
    // one contiguous byte[] for in-place window hashing (getBytes is a
    // no-copy view whenever the UTF8String already owns an exact array)
    val buf = text.getBytes
    // char-start byte offsets; identity for pure-ASCII (the common case)
    val ascii = nBytes == nChars
    val offs = if (ascii) null else {
      val o = new Array[Int](nChars + 1)
      var i = 0; var b = 0
      while (i < nChars) {
        o(i) = b
        b += UTF8String.numBytesForFirstByte(buf(b))
        i += 1
      }
      o(nChars) = nBytes
      o
    }
    def charOff(i: Int): Int =
      if (ascii) (if (i > nChars) nBytes else i) else offs(math.min(i, nChars))
    val mins = Array.fill(NumPerm)(Long.MaxValue)
    val md = if (md5) tlMd.get() else null
    // shingle positions 1..max(nChars-ShingleLen+1, 1): same window set
    // as explode(sequence(1, greatest(len-4, 1))) + substr(i, 5)
    val upTo = math.max(nChars - ShingleLen + 1, 1)
    var i = 0
    while (i < upTo) {
      val start = charOff(i)
      val end = charOff(i + ShingleLen)
      var a = 0L; var b = 0L
      if (md5) {
        md.reset()
        md.update(buf, start, end - start)
        val d = md.digest()
        a = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        b = (((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) | 1L
      } else {
        val h = XXH64.hashUnsafeBytes(
          buf, Platform.BYTE_ARRAY_OFFSET + start, end - start, 42L)
        a = h & 0xffffffffL
        b = (h >>> 32) | 1L
      }
      var p = 0
      while (p < NumPerm) {
        val v = (a + p * b) % Mod
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    mins
  }

  def apply(c: Column, md5: Boolean): Column =
    GraftSessions.column(MinHashSig(GraftSessions.expression(c), md5))
}
