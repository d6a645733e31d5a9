package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.CodePointVocabAggregate
import graft.profiler.{Profiler, ProfilerOptions}

/** The profiler's vocab (one CodePointVocabAggregate per string column)
  * must return exactly the set the per-character formulation it
  * replaced returned: explode every value's first `vocabCharsPerValue`
  * characters into rows, `collect_set`, `array_sort`, keep the first
  * `vocabCap`. That formulation lives on here only, as the reference. */
class CodePointVocabSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The aggregate's buffer operations under the names the first test
    * is stated in. */
  private final class Vocab(charsPerValue: Int, cap: Int) {
    private val agg = CodePointVocabAggregate(
      BoundReference(0, StringType, nullable = true), charsPerValue, cap)
    def zero = agg.createAggregationBuffer()
    def reduce(b: java.util.BitSet, s: String) = agg.update(b,
      InternalRow(if (s == null) null else UTF8String.fromString(s)))
    def merge(a: java.util.BitSet, b: java.util.BitSet) = agg.merge(a, b)
    def finish(b: java.util.BitSet): Seq[String] = agg.eval(b)
      .asInstanceOf[ArrayData].toSeq[UTF8String](StringType).map(_.toString)
  }

  /** The update the aggregate ran before its ASCII path: decode the
    * value, then set its first `charsPerValue` code points. */
  private def decodedUpdate(b: java.util.BitSet, v: UTF8String, charsPerValue: Int): Unit =
    if (v != null) {
      val s = v.toString
      var i = 0; var n = 0
      while (i < s.length && n < charsPerValue) {
        val cp = s.codePointAt(i)
        b.set(cp)
        i += Character.charCount(cp)
        n += 1
      }
    }

  test("the ASCII path sets the bits the decode path sets") {
    val utf8 = (s: String) => UTF8String.fromBytes(s.getBytes("UTF-8"))
    def bytes(bs: Int*) = UTF8String.fromBytes(bs.map(_.toByte).toArray)
    val k = 6
    // the first non-ASCII character at index k - 1, k (the first one past
    // the cap) and k + 1, in each UTF-8 width; invalid UTF-8 after ASCII
    val edges = for (at <- Seq(k - 1, k, k + 1); c <- Seq("é", "中", "😀"))
      yield utf8("abcdefgh".take(at) + c + "xyz")
    val values = edges ++ Seq(utf8(""), utf8("abc"), utf8("\u0000\u007F"),
      utf8("x😀y🎉z"), bytes(0xC3, 0x28), bytes(0x61, 0x80, 0x62), bytes(0xFF),
      bytes(0x61, 0x62, 0x63, 0xE4, 0xB8), null)
    for (cap <- Seq(0, 1, k, k + 1, 1000); v <- values) {
      val agg = CodePointVocabAggregate(BoundReference(0, StringType, nullable = true), cap, 5000)
      val want = new java.util.BitSet
      decodedUpdate(want, v, cap)
      assert(agg.update(agg.createAggregationBuffer(), InternalRow(v)) == want, s"$v at $cap")
    }
  }

  /** The explode formulation, grouped by `key` (a constant key = whole frame). */
  private def explodeVocab(df: DataFrame, key: Column, cols: Seq[String],
      opts: ProfilerOptions): Map[Long, Map[String, Set[String]]] =
    df.select(key.cast("long").as("__split"), explode(array(cols.map(c =>
      struct(lit(c).as("k"),
        substring(col(c).cast("string"), 1, opts.vocabCharsPerValue)
          .as("v"))): _*)).as("kv"))
      .select(col("__split"), col("kv.k"),
        explode(split(col("kv.v"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("__split", "k").agg(
        slice(array_sort(collect_set(col("ch"))), 1, opts.vocabCap)
          .as("chars"))
      .collect()
      .groupBy(_.getLong(0)).map { case (k, rows) =>
        k -> rows.map(r => r.getString(1) -> r.getSeq[String](2).toSet).toMap
      }

  // nulls, "", accented and CJK (multi-byte UTF-8), emoji (supplementary
  // code points: a surrogate pair in Java, ONE symbol to Spark), values
  // longer than vocabCharsPerValue, and an alphabet past vocabCap
  private val cells = Seq(
    "abc", null, "", "héllo", "中文字符", "x😀y🎉z", "zzzzzzzzzzqrstuvw",
    "😀", "éé", "ÀÁÂÃÄÅÆÇÈÉ", "mixed 中 é 😀 end", null, "  ", "0123456789",
    "\t\ttab", "Ωmega", "a", "b")

  private def fixture: DataFrame = {
    import spark.implicits._
    cells.zipWithIndex.map { case (s, i) =>
      (i.toLong % 3, s, Option(s).map(_.reverse).orNull,
        if (i % 4 == 0) null else "zyx")
    }.toDF("g", "s", "r", "sparse")
      .repartition(3) // several map tasks → the merge path runs
  }

  private val stringCols = Seq("s", "r", "sparse")

  private val optsGrid = Seq(
    ProfilerOptions(computeLabels = false, vocabCharsPerValue = 4,
      vocabCap = 12),
    ProfilerOptions(computeLabels = false, vocabCharsPerValue = 1000,
      vocabCap = 5),
    ProfilerOptions(computeLabels = false, vocabCharsPerValue = Int.MaxValue,
      vocabCap = 1000))

  test("aggregate reads code points, caps per value, sorts by code point") {
    val agg = new Vocab(charsPerValue = 3, cap = 10)
    val b = Seq("ba😀zz", null, "", "é中").foldLeft(agg.zero)(agg.reduce)
    // "ba😀" (3 code points, not 3 UTF-16 units), then "é中"
    assert(agg.finish(b) == Seq("a", "b", "é", "中", "😀"))
    val capped = new Vocab(charsPerValue = 100, cap = 2)
    val m = capped.merge(capped.reduce(capped.zero, "zy"),
      capped.reduce(capped.zero, "xa"))
    assert(capped.finish(m) == Seq("a", "x"))
    assert(agg.finish(agg.zero).isEmpty)
  }

  test("profile vocab equals the explode/collect_set reference") {
    val df = fixture.drop("g")
    for (opts <- optsGrid) {
      val ref = explodeVocab(df, lit(0L), stringCols, opts)
        .getOrElse(0L, Map.empty)
      val p = Profiler.profile(df, opts)
      for (c <- stringCols)
        assert(p.column(c).get.text.get.vocab == ref.getOrElse(c, Set.empty),
          s"$c at $opts")
    }
    // the fixture exercises what it claims to
    val full = explodeVocab(df, lit(0L), stringCols, optsGrid(2))(0L)
    assert(full("s").contains("😀") && full("s").contains("中"))
    assert(full("s").size > optsGrid(1).vocabCap)
  }

  test("vocab reads every row: characters in the last rows are kept") {
    // 120k rows (past the 100k-row budget the vocab was once sampled
    // under), with two characters that occur only in the last two rows of
    // the last partition: the whole-frame and per-group vocab must still
    // equal the reference over every row
    val n = 120000L
    val id = col("id")
    val df = spark.range(0, n, 1, 4).select((id % 2).as("h"),
      when(id === n - 1, lit("ab🎉")).when(id === n - 2, lit("中"))
        .otherwise(concat(lit("x"), (id % 10).cast("string"))).as("s"))
    val opts = optsGrid(2)
    val whole = df.drop("h")
    val ref = explodeVocab(whole, lit(0L), Seq("s"), opts)(0L)("s")
    assert(ref.contains("🎉") && ref.contains("中"))
    assert(Profiler.profile(whole, opts).column("s").get.text.get.vocab == ref)
    val splitRef = explodeVocab(df, col("h"), Seq("s"), opts)
    val split = Profiler.profileSplit(df, "h", opts)
    assert(split.keySet == Set(0L, 1L))
    for ((k, p) <- split)
      assert(p.column("s").get.text.get.vocab == splitRef(k)("s"), s"group $k")
  }

  test("profileSplit vocab equals the explode/collect_set reference per group") {
    val df = fixture
    for (opts <- optsGrid) {
      val ref = explodeVocab(df, col("g"), stringCols, opts)
      val split = Profiler.profileSplit(df, "g", opts)
      assert(split.keySet == Set(0L, 1L, 2L))
      for ((k, p) <- split; c <- stringCols)
        assert(p.column(c).get.text.get.vocab ==
          ref.getOrElse(k, Map.empty).getOrElse(c, Set.empty),
          s"group $k column $c at $opts")
    }
  }
}
