package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BucketGradAggregate, CoMomentsAggregate,
  CodePointVocabAggregate, HistogramAggregate, MisraGriesAggregate,
  NumericStatsAggregate, RowStatsAggregate, StringStatsAggregate,
  ValueStatsAggregate}
import graft.functions.{cnt, isDatetimeStr, isFloatStr, isIntStr}
import graft.functions.reference

/** The native aggregates (graft.functions.*Aggregate) against the
  * `udaf(Aggregator)` formulations they replaced, kept in test scope as
  * references. Each comparison runs both in ONE aggregation over a
  * multi-partition input, so both see the same rows in the same update
  * and merge order; result types must match the references' encoder
  * schemas, which the profiler's decoders read. */
class NativeAggregatesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** `native` and `ref` over `df` in one aggregation: their two results,
    * after asserting equal result types. */
  private def both(df: DataFrame, native: Column, ref: Column): (Any, Any) = {
    val out = df.agg(native.as("native"), ref.as("ref"))
    assert(out.schema("native").dataType == out.schema("ref").dataType)
    val r = out.head()
    (r.get(0), r.get(1))
  }

  private def histOf(r: Any): (Double, Double, Seq[Long]) = {
    val row = r.asInstanceOf[Row]
    (row.getDouble(0), row.getDouble(1), row.getSeq[Long](2).toSeq)
  }

  /** One double column `v` over four partitions, in the given order. */
  private def doubles(vs: Seq[java.lang.Double], parts: Int = 4): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map(v => Row(v)), parts), StructType(Seq(StructField("v", DoubleType))))

  private def assertHistEqual(df: DataFrame, bins: Int, what: String): Unit = {
    val (n, r) = both(df, HistogramAggregate(col("v"), bins),
      udaf(new reference.HistogramAgg(bins)).apply(col("v").cast("double")))
    assert(histOf(n) == histOf(r), what)
  }

  test("histogram equals the Aggregator reference") {
    val nInf = java.lang.Double.NEGATIVE_INFINITY
    val pInf = java.lang.Double.POSITIVE_INFINITY
    val mixed: Seq[java.lang.Double] = (0 until 400).map { i =>
      i % 13 match {
        case 0 => null
        case 1 => java.lang.Double.NaN
        case 2 => if (i % 2 == 0) pInf else nInf
        case _ => java.lang.Double.valueOf(math.sin(i.toDouble) * 1000)
      }
    }
    assertHistEqual(doubles(mixed), 16, "nulls, NaN and ±Inf")
    // ascending per partition: every new value is past the range, so the
    // range regrows again and again
    assertHistEqual(doubles((1 to 5000).map(i => java.lang.Double.valueOf(i * 1.5))),
      32, "sorted input")
    assertHistEqual(doubles(Seq.fill(300)(java.lang.Double.valueOf(7.25))), 8,
      "constant column")
    assertHistEqual(doubles(Seq.empty), 8, "empty input")
    assertHistEqual(doubles(Seq(java.lang.Double.valueOf(-3.0)), 1), 8, "one row")
    // and through the numeric cast the profiler applies to integral columns
    assertHistEqual(spark.range(0, 3000, 1, 3).select((col("id") * 7 % 991).as("v")),
      256, "bigint input")
  }

  test("Misra-Gries equals the Aggregator reference past capacity") {
    // three partitions of distinct cold values, then heavy hitters that
    // appear only in the last partition
    val n = 4000
    val df = spark.range(0, n, 1, 4).select(
      when(col("id") >= 3 * n / 4, concat(lit("hot"), (col("id") % 3).cast("string")))
        .when(col("id") % 17 === 0, lit(null))
        .otherwise(concat(lit("cold"), col("id").cast("string"))).as("v"))
    for (cap <- Seq(8, 64)) {
      val (nat, ref) = both(df, MisraGriesAggregate(col("v"), cap),
        udaf(new reference.MisraGriesAgg(cap)).apply(col("v")))
      val m = nat.asInstanceOf[scala.collection.Map[String, Long]]
      assert(m == ref.asInstanceOf[scala.collection.Map[String, Long]], s"cap $cap")
      assert(m.size <= cap)
      assert((0 until 3).forall(i => m.contains(s"hot$i")), m.keySet)
    }
  }

  test("vocab equals the Aggregator reference") {
    import spark.implicits._
    val cells = Seq("héllo", null, "中文字符", "x😀y🎉z", "", "zzzzzzzzzzqrstuvw",
      "ÀÁÂÃÄÅÆÇÈÉ", "mixed 中 é 😀 end", "Ωmega", "0123456789", "😀😀😀é")
    val df = cells.toDF("v").repartition(3)
    for ((perValue, cap) <- Seq((4, 1000), (1000, 5), (2, 3), (Int.MaxValue, 1000))) {
      val (nat, ref) = both(df, CodePointVocabAggregate(col("v"), perValue, cap),
        udaf(new reference.CodePointVocabAgg(perValue, cap)).apply(col("v")))
      assert(nat == ref, s"charsPerValue $perValue, cap $cap")
    }
  }

  test("bucket gradient equals the Aggregator reference") {
    val df = spark.range(0, 2000, 1, 4).select(
      when(col("id") % 11 =!= 0, array((col("id") % 5), (col("id") % 7) + 5))
        .as("bs"),
      (col("id") * 31 % 1001 - 500).as("gs"))
    val (nat, ref) = both(df, BucketGradAggregate(col("bs"), col("gs"), 12),
      udaf(new reference.BucketGradAgg(12)).apply(col("bs"), col("gs")))
    assert(nat == ref)
  }

  // ---- the pass-1 column-stats aggregates against the built-ins they
  // replace: bit-identical values, -0.0 and NaN included

  /** Same value, doubles compared by bits (so -0.0 differs from 0.0). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => a == b
  }

  /** `native` (a struct) and `builtIns` in one aggregation grouped by
    * `keys`: every struct field equals its built-in, per group. */
  private def assertFieldsEqual(df: DataFrame, keys: Seq[Column],
      native: Column, builtIns: Seq[Column], what: String): Unit = {
    val rows = df.groupBy(keys: _*).agg(native.as("native"), builtIns: _*).collect()
    assert(rows.nonEmpty, what)
    for (r <- rows) {
      val st = r.getStruct(keys.size)
      assert(st.length == builtIns.size, what)
      for (i <- builtIns.indices) {
        val (a, b) = (st.get(i), r.get(keys.size + 1 + i))
        assert(same(a, b), s"$what, ${st.schema(i).name}: $a vs $b (row $r)")
      }
    }
  }

  /** Doubles with nulls, NaN, ±Inf, signed zeros and spread magnitudes. */
  private def specialDoubles: DataFrame = spark.range(0, 3000, 1, 4).select(
    (col("id") % 3).as("g"),
    when(col("id") % 97 === 0, lit(null))
      .when(col("id") % 89 === 0, lit(Double.NaN))
      .when(col("id") % 83 === 0, lit(Double.PositiveInfinity))
      .when(col("id") % 79 === 0, lit(Double.NegativeInfinity))
      .otherwise(sin(col("id")) * pow(lit(10.0), col("id") % 9)).as("v"),
    when(col("id") % 5 === 0, lit(null))
      .otherwise(sin(col("id") * 3) * 1e3 + col("id")).as("w"),
    when(col("id") % 4 === 0, lit(-0.0)).when(col("id") % 4 === 1, lit(0.0))
      .when(col("id") % 4 === 2, lit(null)).otherwise(lit(-2.0)).as("z"),
    lit(4.5).as("c"),
    (col("id") * 13 % 101).cast("int").as("i"))

  private def numericBuiltIns(v: Column): Seq[Column] = Seq(count(v),
    cnt(v.isNull), min(v), max(v), sum(v), avg(v), var_pop(v), skewness(v),
    kurtosis(v), cnt(v === 0), cnt(v < 0))

  test("numeric stats equal the built-ins bit for bit") {
    val df = specialDoubles
    for (c <- Seq("v", "w", "z", "c"); keys <- Seq(Nil, Seq(col("g")))) {
      val finite = df.filter(!isnan(col(c)) && abs(col(c)) =!= Double.PositiveInfinity ||
        col(c).isNull)
      for ((frame, what) <- Seq(df -> c, finite -> s"finite $c"))
        assertFieldsEqual(frame, keys, NumericStatsAggregate(col(c)),
          numericBuiltIns(col(c)), s"$what by ${keys.size} keys")
    }
    // through the double cast of an integral column, and with no rows
    assertFieldsEqual(spark.range(0, 5000, 1, 3).select((col("id") * 37 % 1009).as("v")),
      Nil, NumericStatsAggregate(col("v")), numericBuiltIns(col("v").cast("double")),
      "bigint")
    assertFieldsEqual(df.filter(lit(false)), Nil, NumericStatsAggregate(col("v")),
      numericBuiltIns(col("v")), "empty")
  }

  /** The type ratios' built-in form: matches over non-null values, null
    * on an all-null column. */
  private def ratioNonNull(c: Column, pred: Column): Column =
    try_divide(cnt(pred).cast("double"), count(c))

  test("string stats equal the built-ins bit for bit") {
    val df = spark.range(0, 2000, 1, 4).select((col("id") % 2).as("g"),
      when(col("id") % 9 === 0, lit(null))
        .when(col("id") % 9 === 1, lit(""))
        .when(col("id") % 9 === 2, concat(lit(" "), col("id").cast("string"), lit(".0 ")))
        .when(col("id") % 9 === 3, (col("id") / 7.0).cast("string"))
        .when(col("id") % 9 === 4, lit("2021-03-04 05:06"))
        .when(col("id") % 9 === 5, lit("x😀é中"))
        .otherwise(repeat(lit("ab "), (col("id") % 50).cast("int"))).as("s"))
    val s = col("s")
    val len = length(s).cast("double")
    val builtIns = Seq(count(s), cnt(s.isNull), min(len), max(len), avg(len),
      var_pop(len), ratioNonNull(s, isIntStr(s)), ratioNonNull(s, isFloatStr(s)),
      ratioNonNull(s, isDatetimeStr(s)))
    for (keys <- Seq(Nil, Seq(col("g"))))
      assertFieldsEqual(df, keys, StringStatsAggregate(s), builtIns,
        s"by ${keys.size} keys")
    assertFieldsEqual(df.filter(lit(false)), Nil, StringStatsAggregate(s),
      builtIns, "empty")
  }

  /** Values at the edges of the string stats' byte paths, as UTF-8
    * bytes: ASCII; 2-, 3- and 4-byte characters, also past the first
    * eight bytes the length reads at once; invalid UTF-8 (a lead byte
    * before ASCII, a lone continuation byte, 0xFF); the whitespace
    * `\s` takes and U+00A0, which it does not; signs and points alone. */
  private val edgeStrings: Seq[Array[Byte]] = {
    val hex = (h: String) => h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val utf8 = (s: String) => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Seq("", "abc", "12", "é", "héllo", "中文", "😀", "x😀é中", "12é", "1234567é",
      "12345678é", "123456789é", "abcdefghijklmno中", "abcdefghijklmnop😀",
      "\u000B12", "\f12", "\r12", "\u000B\f\r\t\n 3.5e10", "\u00A012", "   ", "+", "-",
      ".", ".5", "\t.25", "-.5", " 12 ", "+-1", "4.0", "1e5", "2021-03-04", " 2021-03-04 05:06 ",
      "\t2021-03-04T05:06:07\n", "12\n", "０１２").map(utf8) ++
      Seq("C328", "80", "FF", "31C328", "FF3132", "2B80", "3132333435363738FF",
        "20C3", "E4B8").map(hex)
  }

  test("string stats read bytes as the built-ins read characters") {
    val rows = edgeStrings.zipWithIndex.map { case (b, i) =>
      Row(i.toLong, b.map(x => f"${x & 0xff}%02X").mkString) }
    // binary → string keeps the bytes, invalid UTF-8 included
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("k", LongType), StructField("h", StringType))))
      .select(col("k"), col("h"), unhex(col("h")).cast("string").as("s"))
    assert(df.filter(hex(col("s")) =!= col("h")).isEmpty)
    val s = col("s")
    val len = length(s).cast("double")
    val builtIns = Seq(count(s), cnt(s.isNull), min(len), max(len), avg(len),
      var_pop(len), ratioNonNull(s, isIntStr(s)), ratioNonNull(s, isFloatStr(s)),
      ratioNonNull(s, isDatetimeStr(s)))
    // per value, and all values in one group
    for (keys <- Seq(Seq(col("k")), Nil))
      assertFieldsEqual(df, keys, StringStatsAggregate(s), builtIns,
        s"by ${keys.size} keys")
    // the kernels alone: the ASCII length is the character count, and a
    // value the prefilter rejects matches no type regex
    val patterns = Seq(graft.functions.IntRegex, graft.functions.FloatRegex,
      graft.functions.DatetimeRegex).map(java.util.regex.Pattern.compile)
    var admitted = 0
    for (b <- edgeStrings) {
      val v = UTF8String.fromBytes(b)
      assert(StringStatsAggregate.numChars(v) == v.numChars(), v)
      if (StringStatsAggregate.mayMatchTypes(v)) admitted += 1
      else assert(!patterns.exists(_.matcher(v.toString).find(0)), v)
    }
    assert(admitted > 10 && admitted < edgeStrings.size)
  }

  test("value stats equal count, null count, min and max") {
    val df = spark.range(0, 1000, 1, 3).select(
      when(col("id") % 7 =!= 0, timestamp_seconds(col("id") * 7919 % 100003)).as("ts"),
      when(col("id") % 5 =!= 0, date_add(lit("2020-01-01").cast("date"),
        (col("id") * 31 % 400).cast("int"))).as("d"),
      (col("id") % 3 === 0).as("b"))
    for (c <- Seq("ts", "d"))
      assertFieldsEqual(df, Nil, ValueStatsAggregate(col(c)),
        Seq(count(col(c)), cnt(col(c).isNull), min(col(c)), max(col(c))), c)
    assertFieldsEqual(df, Nil, ValueStatsAggregate(col("b")),
      Seq(count(col("b")), cnt(col("b").isNull)), "boolean")
  }

  test("row stats equal count(*) and the any/all-null row counts") {
    val df = specialDoubles
    val cols = Seq("v", "w", "z").map(col)
    val nulls = cols.map(_.isNull.cast("int")).reduce(_ + _)
    assertFieldsEqual(df, Seq(col("g")), RowStatsAggregate(cols),
      Seq(count(lit(1)), cnt(nulls > 0), cnt(nulls === 3)), "rows")
  }

  test("co-moments equal the pairwise built-ins bit for bit") {
    val df = specialDoubles
    val names = Seq("w", "z", "c", "i")
    for (keys <- Seq(Nil, Seq(col("g")))) {
      val rows = df.groupBy(keys: _*).agg(
        CoMomentsAggregate(names.map(col)).as("native"),
        names.combinations(2).toSeq.flatMap { case Seq(a, b) =>
          val (ca, cb) = (col(a).cast("double"), col(b).cast("double"))
          val both = ca.isNotNull && cb.isNotNull
          val (pa, pb) = (when(both, ca), when(both, cb))
          Seq(cnt(both), avg(pa), avg(pb), var_pop(pa), var_pop(pb), covar_pop(pa, pb))
        }: _*).collect()
      for (r <- rows) {
        val pairs = r.getSeq[Row](keys.size)
        assert(pairs.size == 6)
        for ((p, j) <- pairs.zipWithIndex; i <- 0 until 6) {
          val b = r.get(keys.size + 1 + 6 * j + i)
          assert(same(p.get(i), b), s"pair $j field $i: ${p.get(i)} vs $b")
        }
      }
    }
  }

  // ---- serialize → deserialize round trips, on the expressions directly

  private def roundTrip[B](agg: org.apache.spark.sql.catalyst.expressions
      .aggregate.TypedImperativeAggregate[B], rows: Seq[Any]): (Any, Any) = {
    val b = rows.foldLeft(agg.createAggregationBuffer())((b, v) =>
      agg.update(b, InternalRow(v)))
    (agg.eval(b), agg.eval(agg.deserialize(agg.serialize(b))))
  }

  private def mapOf(m: MapData): Map[String, Long] =
    m.keyArray().toSeq[UTF8String](StringType).map(_.toString)
      .zip(m.valueArray().toSeq[Long](LongType)).toMap

  test("each buffer survives serialize → deserialize") {
    val hist = HistogramAggregate(BoundReference(0, DoubleType, nullable = true), 16)
    for (vs <- Seq(Seq.empty[Any], Seq[Any](2.5), Seq[Any](1.0, null, 9.0, -4.0, 1e9))) {
      val (a, b) = roundTrip(hist, vs)
      val (ra, rb) = (a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow])
      assert((ra.getDouble(0), ra.getDouble(1), ra.getArray(2).toLongArray.toSeq) ==
        (rb.getDouble(0), rb.getDouble(1), rb.getArray(2).toLongArray.toSeq), vs)
    }

    val mg = MisraGriesAggregate(BoundReference(0, StringType, nullable = true), 4)
    // a key past 64 KB of UTF-8 (the DataOutputStream.writeUTF limit),
    // multi-byte characters, and the empty string
    val long = "é中" * 15000
    val keys = Seq(long, "a", "", long, "😀", null, "a", long)
    val (ma, mb) = roundTrip(mg, keys.map(k => if (k == null) null else UTF8String.fromString(k)))
    assert(mapOf(ma.asInstanceOf[MapData]) == Map(long -> 3L, "a" -> 2L, "" -> 1L, "😀" -> 1L))
    assert(mapOf(mb.asInstanceOf[MapData]) == mapOf(ma.asInstanceOf[MapData]))
    assert(UTF8String.fromString(long).numBytes > 65535)

    val vocab = CodePointVocabAggregate(BoundReference(0, StringType, nullable = true),
      100, 1000)
    val (va, vb) = roundTrip(vocab, Seq("héllo 中😀", null, "\u0000z")
      .map(s => if (s == null) null else UTF8String.fromString(s)))
    assert(va.asInstanceOf[ArrayData].toSeq[UTF8String](StringType) ==
      vb.asInstanceOf[ArrayData].toSeq[UTF8String](StringType))
    assert(va.asInstanceOf[ArrayData].numElements() == 9)

    val grad = BucketGradAggregate(BoundReference(0, ArrayType(LongType), nullable = true),
      BoundReference(1, LongType, nullable = false), 3)
    val b = Seq((Seq(0L, 2L), 5L), (Seq(1L), -7L)).foldLeft(grad.createAggregationBuffer()) {
      case (b, (bs, gs)) => grad.update(b, InternalRow(new GenericArrayData(bs.toArray[Any]), gs))
    }
    assert(grad.deserialize(grad.serialize(b)).toSeq == Seq(5L, -7L, 5L, -2L))

    val num = NumericStatsAggregate(BoundReference(0, DoubleType, nullable = true))
    val (na, nb) = roundTrip(num, Seq(1.5, null, -0.0, Double.NaN, 3.0))
    assert(na.asInstanceOf[InternalRow].toSeq(num.dataType.asInstanceOf[StructType])
      .toString == nb.asInstanceOf[InternalRow].toSeq(num.dataType.asInstanceOf[StructType])
      .toString)
    val str = StringStatsAggregate(BoundReference(0, StringType, nullable = true))
    val (sa, sb) = roundTrip(str, Seq("12", null, "x😀")
      .map(s => if (s == null) null else UTF8String.fromString(s)))
    val st = str.dataType.asInstanceOf[StructType]
    assert(sa.asInstanceOf[InternalRow].toSeq(st) == sb.asInstanceOf[InternalRow].toSeq(st))
  }
}
