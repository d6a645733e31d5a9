package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{CategoryCountAggregate, CodePointVocabAggregate,
  DatetimeCandidatesAggregate, OrderSegmentsAggregate}
import graft.profiler.{Codec, ColumnProfile, Diff, Profile, Profiler, ProfilerOptions}

/** Seeded metamorphic properties of the profiler's category, vocab,
  * order and string-datetime state over generated frames: nulls, "",
  * non-BMP and U+E000.. strings, datetime strings of several formats,
  * constant and all-null columns, 1–4 input partitions and an uneven
  * split key. Order-free state must not change under
  * `repartition`; each split group's profile must equal the filtered
  * whole-frame profile; every buffer must survive serialize →
  * deserialize; every profile must re-encode byte-identically through
  * the codec and show no drift against itself. Fixed seeds keep runs
  * identical. */
class ProfileFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val cell: Gen[String] = Gen.frequency(
    2 -> Gen.const(null),
    1 -> Gen.const(""),
    3 -> Gen.oneOf("a", "b", "ab", "ba", "Z"),
    2 -> Gen.oneOf("😀", "x🎉", "\uE000", "x\uFFFF", "中文", "é"),
    1 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString)))

  /** Datetime strings: day suffixes, 5-digit and 2-digit years, MM/dd
    * against dd/MM, near misses and long text. */
  private val dtCell: Gen[String] = Gen.frequency(
    2 -> Gen.const(null),
    4 -> Gen.choose(0, 2000).map(d => java.time.LocalDate.of(2019, 1, 1).plusDays(d).toString),
    2 -> Gen.oneOf("03/04/2021", "13/04/2021", "04/13/2021", "03/04/21", "12/31/99"),
    1 -> Gen.oneOf("March 23rd, 2022", "Mar 23, 2022", "+12345-01-02", "12345-01-02",
      "2021-02-29", "20210304", "12:30:00", "2021-03-04 05:06"),
    1 -> Gen.const("lorem ipsum dolor sit amet " * 10))

  private val schema = StructType(Seq(
    StructField("g", LongType, nullable = false),
    StructField("s", StringType), StructField("t", StringType),
    StructField("const", StringType), StructField("v", LongType),
    StructField("d", DoubleType), StructField("dt", StringType)))

  private final case class Frame(rows: IndexedSeq[Row], parts: Int, reparts: Int,
      maxCategories: Int)

  private val frame: Gen[Frame] = for {
    n <- Gen.choose(0, 80)
    parts <- Gen.choose(1, 4)
    reparts <- Gen.choose(1, 5)
    constant <- Gen.oneOf[String]("same", null)
    maxCategories <- Gen.oneOf(3, 1000)
    rows <- Gen.listOfN(n, for {
      // skewed split key: group 0 holds about half the rows
      g <- Gen.frequency(4 -> Gen.const(0L), 2 -> Gen.const(1L), 1 -> Gen.const(2L))
      s <- cell
      t <- cell
      v <- Gen.frequency(1 -> Gen.const(null), 4 -> Gen.choose(-3L, 3L).map(Long.box))
      d <- Gen.frequency(1 -> Gen.const(null),
        4 -> Gen.oneOf(0.0, -0.0, 1.5, Double.NaN, -2.0).map(Double.box))
      dt <- dtCell
    } yield Row(g, s, t, constant, v, d, dt))
  } yield Frame(rows.toIndexedSeq, parts, reparts, maxCategories)

  private def frameOf(f: Frame): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(f.rows, f.parts), schema)

  /** `n` generated values from `gen`, seed by seed. */
  private def sample[T](gen: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = Seed(seed)
    (1 to n).flatMap { _ =>
      val x = gen.apply(Gen.Parameters.default, s)
      s = s.next
      x
    }
  }

  private def optsOf(f: Frame) = ProfilerOptions(computeLabels = false,
    computeCorrelation = false, computeExemplars = false,
    maxCategories = f.maxCategories)

  /** The category, vocab and count state of a column. */
  private def orderFree(c: ColumnProfile) =
    (c.n, c.nulls, c.categorical.map(x => (x.counts, x.capped)), c.text.map(_.vocab))

  private def sameOrderFree(a: Profile, b: Profile, what: String): Unit = {
    assert(a.rowCount == b.rowCount, what)
    for (c <- a.columns)
      assert(orderFree(c) == orderFree(b.column(c.name).get), s"$what: ${c.name}")
  }

  private val frames = sample(frame, 10, seed = 20261018L)

  test("category maps and vocab are invariant under repartition") {
    for ((f, i) <- frames.zipWithIndex) {
      val df = frameOf(f).drop("g")
      sameOrderFree(Profiler.profile(df, optsOf(f)),
        Profiler.profile(df.repartition(f.reparts), optsOf(f)),
        s"frame $i (${f.rows.size} rows, ${f.parts} → ${f.reparts} partitions)")
    }
  }

  test("profileSplit(df, k)(i) equals profile(df.filter(k === i))") {
    for ((f, i) <- frames.zipWithIndex) {
      val df = frameOf(f)
      val split = Profiler.profileSplit(df, "g", optsOf(f))
      assert(split.keySet == f.rows.map(_.getLong(0)).toSet, s"frame $i keys")
      for ((k, g) <- split) {
        val whole = Profiler.profile(df.filter(col("g") === k).drop("g"), optsOf(f))
        val what = s"frame $i group $k"
        sameOrderFree(g, whole, what)
        for (c <- whole.columns) {
          val gc = g.column(c.name).get
          assert(gc.order == c.order, s"$what: ${c.name} order")
          assert(gc.datetimeFormats == c.datetimeFormats, s"$what: ${c.name} formats")
          assert(gc.datetime == c.datetime, s"$what: ${c.name} datetime")
        }
      }
    }
  }

  /** Fails when `Diff.diff(p, p)` reports drift: a non-zero delta, a
    * statistic other than its no-change value, or a changed order, label
    * or format set. A delta may be NaN only where the statistic itself
    * is undefined on the profile. */
  private def assertNoDrift(p: Profile, what: String): Unit = {
    def zero(d: Double, undefined: Boolean, name: String) =
      assert(d == 0.0 || (d.isNaN && undefined), s"$what: $name $d")
    val d = Diff.diff(p, p)
    assert(d.rowCountDelta == 0, what)
    assert(d.columns.map(_.name) == p.columns.map(_.name), what)
    for (cd <- d.columns) {
      val c = p.column(cd.name).get
      val at = s"${cd.name}:"
      assert(cd.countDelta == 0, s"$what: $at count")
      zero(cd.nullRatioDelta, c.nullRatio.isNaN, s"$at null ratio")
      for (nd <- cd.numeric; s <- c.numeric) {
        zero(nd.meanDelta, s.mean.isNaN, s"$at mean")
        zero(nd.stdDelta, s.stddev.isNaN, s"$at stddev")
        zero(nd.tStatistic, nd.tStatistic.isNaN, s"$at t")
        assert(nd.tPValue.isNaN || nd.tPValue == 1.0, s"$what: $at t p-value ${nd.tPValue}")
        nd.psi.foreach(x => zero(x, x.isNaN, s"$at psi"))
      }
      for (cat <- cd.categorical) {
        zero(cat.chi2Statistic, cat.chi2Statistic.isNaN, s"$at chi2")
        zero(cat.psi, cat.psi.isNaN, s"$at categorical psi")
      }
      assert(cd.orderChange.isEmpty && cd.labelChange.isEmpty, s"$what: $at order/label")
      assert(cd.formatsOnlyLeft.isEmpty && cd.formatsOnlyRight.isEmpty, s"$what: $at formats")
    }
  }

  test("Codec re-encodes each profile byte-identically; Diff finds no drift against itself") {
    for ((f, i) <- frames.zipWithIndex) {
      val df = frameOf(f)
      val whole = Profiler.profile(df.drop("g"), ProfilerOptions(maxCategories = f.maxCategories))
      val groups = Profiler.profileSplit(df, "g", optsOf(f)).toSeq.sortBy(_._1)
      for ((what, p) <- (s"frame $i whole" -> whole) +:
          groups.map { case (k, g) => s"frame $i group $k" -> g }) {
        val enc = Codec.encode(p)
        assert(Codec.encode(Codec.decode(enc)) == enc, s"$what: re-encode")
        assertNoDrift(p, what)
      }
    }
  }

  /** `agg`'s result over `parts` partial buffers (each folded from its
    * rows) merged in order, straight and after each partial went through
    * serialize → deserialize, as Scala values. */
  private def roundTrip[B](agg: TypedImperativeAggregate[B], parts: Seq[Seq[InternalRow]],
      update: (B, InternalRow, Int) => B): (Any, Any) = {
    def partials = parts.zipWithIndex.map { case (rows, p) =>
      rows.foldLeft(agg.createAggregationBuffer())(update(_, _, p))
    }
    def merged(bs: Seq[B]) = bs.foldLeft(agg.createAggregationBuffer())(agg.merge)
    def scala(b: B) = CatalystTypeConverters.convertToScala(agg.eval(b), agg.dataType)
    (scala(merged(partials)),
      scala(merged(partials.map(b => agg.deserialize(agg.serialize(b))))))
  }

  // also covers the scan segments' head rows and the datetime candidates
  test("category, vocab and order buffers survive serialize → deserialize") {
    val utf8 = (s: String) => if (s == null) null else UTF8String.fromString(s)
    val parted = for {
      nParts <- Gen.choose(1, 4)
      parts <- Gen.listOfN(nParts, Gen.choose(0, 30).flatMap(n => Gen.listOfN(n,
        for { k <- Gen.choose(0L, 2L); s <- cell; v <- Gen.choose(-2L, 2L); dt <- dtCell }
          yield InternalRow(k, utf8(s), if (s == null) null else v, utf8(dt)))))
      ceiling <- Gen.choose(0, 6)
    } yield (parts, ceiling)
    for (((parts, ceiling), i) <- sample(parted, 200, seed = 7L).zipWithIndex) {
      val str = BoundReference(1, StringType, nullable = true)
      val cat = CategoryCountAggregate(str, ceiling)
      val (c1, c2) = roundTrip(cat, parts,
        (b: CategoryCountAggregate.Buf, r: InternalRow, _: Int) => cat.update(b, r))
      assert(c1 == c2, s"case $i categories")
      val vocab = CodePointVocabAggregate(str, 3, 1000)
      val (v1, v2) = roundTrip(vocab, parts,
        (b: java.util.BitSet, r: InternalRow, _: Int) => vocab.update(b, r))
      assert(v1 == v2, s"case $i vocab")
      // the scan segments: order columns with head rows, order columns
      // alone (n = 0), and head rows alone
      val key = BoundReference(0, LongType, nullable = false)
      val dt = BoundReference(3, StringType, nullable = true)
      for ((orderCols, n) <- Seq((2, ceiling * 4), (2, 0), (0, ceiling * 4 + 1))) {
        val segs = OrderSegmentsAggregate(
          Seq(key, str, BoundReference(2, LongType, nullable = true)).take(1 + orderCols) ++
            Seq(key, str, dt), orderCols, n)
        val (o1, o2) = roundTrip(segs, parts, segs.updateIn _)
        assert(o1 == o2, s"case $i segments: $orderCols order columns, n = $n")
        // each key keeps its first n rows in partition order
        def cells(r: InternalRow) = (r.getLong(0), Option(r.getUTF8String(1)).map(_.toString),
          Option(r.getUTF8String(3)).map(_.toString))
        val want = parts.flatten.groupBy(_.getLong(0)).map { case (k, rs) =>
          k -> rs.take(n).map(cells) }
        val got = o1.asInstanceOf[Seq[Row]].map(r => r.getLong(0) ->
          r.getSeq[Row](2).map(x => (x.getLong(0), Option(x.getString(1)), Option(x.getString(2)))))
        assert(got.toMap == want, s"case $i head rows: $orderCols order columns, n = $n")
      }
      val dts = DatetimeCandidatesAggregate(BoundReference(3, StringType, nullable = true),
        "UTC", ProfilerOptions().ndvLgK)
      val (d1, d2) = roundTrip(dts, parts,
        (b: DatetimeCandidatesAggregate.Buf, r: InternalRow, _: Int) => dts.update(b, r))
      assert(d1 == d2, s"case $i datetime candidates")
    }
  }
}
