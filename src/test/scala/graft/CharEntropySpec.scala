package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CharEntropy

/** `graft_entropy` against hand-computed Shannon values, the
  * uniform/degenerate extremes, codepoint (not UTF-16 unit) counting,
  * and null/empty semantics. */
class CharEntropySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def h(s: String): Option[Double] = {
    import spark.implicits._
    val r = Seq(s).toDF("s").select(CharEntropy(col("s")).as("h")).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("hand-computed values and extremes") {
    assert(h("aabb").contains(1.0)) // two symbols, 50/50
    assert(math.abs(h("aaab").get - 0.8112781244591328) < 1e-12)
    assert(h("aaaa").contains(0.0)) // degenerate: one symbol
    assert(h("a").contains(0.0))
    // 4 distinct chars uniform -> exactly 2 bits
    assert(h("abcd").contains(2.0))
    assert(h("abcdabcd").contains(2.0))
  }

  test("codepoints, not UTF-16 units: a surrogate-pair emoji is ONE symbol") {
    // "😀😀" = one distinct codepoint -> H 0; as UTF-16 units it would
    // be two alternating surrogates -> H 1 (the bug this test pins)
    assert(h("😀😀").contains(0.0))
    assert(h("😀a").contains(1.0)) // two codepoints, 50/50
  }

  test("empty and null yield null; interpreted eval agrees with codegen") {
    import spark.implicits._
    assert(h("").isEmpty)
    val out = Seq(Option.empty[String]).toDF("s")
      .select(CharEntropy(col("s")).as("h")).collect()
    assert(out(0).isNullAt(0))
    // interpreted path (filter on the expression forces eval in tests)
    val n = Seq("aabb", "x").toDF("s")
      .filter(CharEntropy(col("s")) === 1.0).count()
    assert(n == 1)
  }
}
