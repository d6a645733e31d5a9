package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.profiler.{Codec, Profiler, ProfilerOptions, Report}

/** Save/load round-trip: a decoded profile must carry ALL mergeable state
  * (the reference's ProfileEncoder/json_decoder contract). */
class CodecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** The per-character escape `Report.esc` was defined as. */
  private def flatMapEsc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  test("string escape and parse: every ASCII character, alone and in runs") {
    val ascii = (0 to 0x7f).map(_.toChar.toString)
    val cases = ascii ++ ascii.map(c => s"ab${c}cd$c") ++
      Seq("", "plain", "😀", "a😀\"b\\c\u0001é", ascii.mkString, ascii.mkString * 3)
    for (s <- cases) {
      assert(Report.esc(s) == flatMapEsc(s), s.map(_.toInt))
      assert(Codec.parse(Report.write(Report.JStr(s))) == Report.JStr(s), s.map(_.toInt))
    }
    // nothing to escape: the string itself
    val plain = "no escapes 😀 here"
    assert(Report.esc(plain) eq plain)
    // the escapes the parser reads that the writer never emits
    assert(Codec.parse("\"a\\/b\\bc\\fd\\u00e9\"") == Report.JStr("a/b\bc\fdé"))
  }

  test("encode -> decode -> encode is a fixpoint with full state") {
    val li = Tables.load(spark, sf, "lineitem")
    val p = Profiler.profile(li)
    val json = Codec.encode(p)
    val back = Codec.decode(json)
    assert(Codec.encode(back) == json)
    // decoded state is still operational: merge and diff work
    assert(back.rowCount == p.rowCount)
    assert(back.correlation.keySet == p.correlation.keySet)
    val remerged = back.merge(back)
    assert(remerged.rowCount == 2 * p.rowCount)
    val q = back.column("l_quantity").get
    assert(q.numeric.get.mean == p.column("l_quantity").get.numeric.get.mean)
    assert(q.exemplars.nonEmpty)
    // decoded correlation survives a merge numerically
    val c0 = p.correlation.head
    assert(math.abs(remerged.correlation(c0._1) - c0._2) < 1e-9)
  }

  test("sampled profile respects the 0.2n/5000 contract") {
    val li = Tables.load(spark, sf, "lineitem") // ~6000 rows
    val n = li.count()
    val p = Profiler.profileSampled(li,
      ProfilerOptions(computeOrder = false, computeLabels = false))
    // target = max(0.2n, 5000) = 5000 for ~6k rows; Bernoulli sampling
    // lands near it
    assert(p.rowCount < n)
    assert(math.abs(p.rowCount - 5000.0) / 5000.0 < 0.15)
  }
}
