package graft.functions

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, GraftSessions, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GenericInternalRow, InterpretedUnsafeProjection, RowOrdering, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Order detection (SURVEY §2.4; reference order_column_profile.py:374-413
  * `_get_data_order`, merge `:100-263`): classify each column as
  * ascending / descending / constant / random over a defined row order.
  *
  * Scale shape: a naive `lag() OVER (ORDER BY key)` globally sorts into
  * ONE partition — a scale-killer. Here each input partition computes
  * its local (first, last, nIncr, nDecr, nEq) summary in a single forward
  * pass inside an [[OrderSegmentsAggregate]], and the final merge orders
  * the P summaries by partition index, adding the one cross-boundary
  * comparison per seam — the same batch-merge algebra the reference
  * applies between chunks. The rows are taken either in natural scan
  * order (the profiler's pass 1) or range-partitioned and sorted on a
  * key ([[detect]]). Cost: one pass, no global sort, O(P × columns)
  * state.
  */
object OrderDetect {

  final case class OrderResult(
      order: String, nIncr: Long, nDecr: Long, nEq: Long)

  /** One key's decoded [[OrderSegmentsAggregate]] result: a result per
    * value column, and the key's first rows of the head columns. */
  final case class Segments(columns: Seq[OrderResult], rows: Seq[Row])

  private def classify(nIncr: Long, nDecr: Long, nEq: Long): String =
    if (nIncr == 0 && nDecr == 0) "constant"
    else if (nDecr == 0) "ascending"
    else if (nIncr == 0) "descending"
    else "random"

  /** The verdict on a column with no values. */
  val EmptyVerdict: String = classify(0L, 0L, 0L)

  /** Whether a column of type `t` has an order to detect. */
  def orderable(t: DataType): Boolean = RowOrdering.isOrderable(t)

  /** An [[OrderSegmentsAggregate]] result, as collected, by key. */
  def decode(v: Any): Map[Long, Segments] =
    v.asInstanceOf[scala.collection.Seq[Row]].map { r =>
      r.getLong(0) -> Segments(
        r.getSeq[Row](1).map { c =>
          OrderResult(classify(c.getLong(0), c.getLong(1), c.getLong(2)),
            c.getLong(0), c.getLong(1), c.getLong(2))
        },
        r.getSeq[Row](2))
    }.toMap

  /** Detect order of `valCols` when rows are ordered by `keyCol`.
    * Range-repartitions on the key (so partitions tile the key space in
    * order), sorts within partitions, and summarizes each partition in
    * one aggregation (its partial runs on the sorted partitions). */
  def detect(df: DataFrame, keyCol: String, valCols: Seq[String],
      partitions: Int = 0): Map[String, OrderResult] = {
    val p = if (partitions > 0) partitions
      else df.sparkSession.sparkContext.defaultParallelism
    val arranged = df.select((keyCol +: valCols).map(col): _*)
      .repartitionByRange(p, col(keyCol))
      .sortWithinPartitions(keyCol)
    val res = decode(arranged.agg(
      OrderSegmentsAggregate(lit(0L), valCols.map(col), Nil, 0)).head().get(0))
    val cols = res.get(0L).map(_.columns)
      .getOrElse(valCols.map(_ => OrderResult(EmptyVerdict, 0L, 0L, 0L)))
    valCols.zip(cols).toMap
  }

  /** Results as a small DataFrame for the query/oracle surface. */
  def toDF(df: DataFrame, keyCol: String, valCols: Seq[String]): DataFrame = {
    val res = detect(df, keyCol, valCols)
    val spark = df.sparkSession
    val rows = valCols.map { c =>
      val r = res(c)
      Row(c, r.order, r.nIncr, r.nDecr, r.nEq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("col_name", StringType, nullable = false),
        StructField("order_type", StringType, nullable = false),
        StructField("n_incr", LongType, false),
        StructField("n_decr", LongType, false),
        StructField("n_eq", LongType, false))))
      .orderBy("col_name")
  }
}

/** Per-(input partition, key) scan segments, as one mergeable aggregate:
  * forward-scan order summaries of the value columns (the engine of
  * [[OrderDetect]]) and the first `n` rows of the head columns (the
  * profiler's head sample, the rows `df.head(n)` returns).
  *
  * `children` are a long key, then `orderCount` value columns, then the
  * head columns. A task folds its rows, in the order it reads them, into
  * one segment per key for its partition (`TaskContext.getPartitionId`,
  * the value `spark_partition_id()` reads): per value column the
  * non-null count, the first and last non-null values and the increase /
  * decrease / equal counts between consecutive non-null values; and,
  * in partitions below [[OrderSegmentsAggregate.MaxPartitions]] only, the
  * segment's first `n` rows of the head columns, so at most that many
  * partitions times `n` rows per key cross the exchange at any scale.
  * Merge is the union of the segments. `eval` sorts each key's segments
  * by partition, adds one comparison per seam between consecutive
  * non-empty segments, and concatenates their rows, taking `n`: the
  * key's first `n` rows whenever its segments there hold `n` rows or all
  * of its rows ([[OrderSegmentsAggregate.covers]]).
  *
  * The rows of one partition must reach `update` in scan order, so the
  * aggregate belongs in an aggregation without grouping (or over a
  * partition sorted just below it): ObjectHashAggregate's sort-based
  * fallback would update a group with the rows that arrive after the
  * fallback before merging the earlier ones.
  *
  * Comparison (the reference casts to float, else compares as str):
  * numbers as doubles (`java.lang.Double.compare`), strings in
  * `String.compareTo` order (UTF-16 code units), binary as unsigned
  * bytes, and every other orderable type — booleans, dates, timestamps,
  * intervals — by its Catalyst value's natural ordering.
  *
  * The result is `array<struct<key, columns: array<struct<n_incr,
  * n_decr, n_eq>>, rows: array<struct<c0, c1, …>>>>`, sorted by key. */
case class OrderSegmentsAggregate(
    children: Seq[Expression],
    orderCount: Int,
    n: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[OrderSegmentsAggregate.Buf] {

  import OrderSegmentsAggregate.{Buf, MaxPartitions, Segment}

  private def values: Seq[Expression] = children.slice(1, 1 + orderCount)
  private def heads: Seq[Expression] = children.drop(1 + orderCount)
  private def k: Int = orderCount
  @transient private lazy val valueExprs: Array[Expression] = values.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.isEmpty || children.head.dataType != LongType)
      TypeCheckResult.TypeCheckFailure("OrderSegmentsAggregate expects a long key first")
    else values.find(v => !OrderDetect.orderable(v.dataType)) match {
      case Some(v) => TypeCheckResult.TypeCheckFailure(
        s"OrderSegmentsAggregate cannot order ${v.dataType.simpleString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("columns", ArrayType(OrderSegmentsAggregate.ColumnType, containsNull = false),
      nullable = false),
    StructField("rows", ArrayType(StructType(heads.zipWithIndex.map { case (c, i) =>
      StructField(s"c$i", c.dataType, nullable = true)
    }), containsNull = false), nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val cmps: Array[(Any, Any) => Int] =
    values.map(v => OrderSegmentsAggregate.comparator(v.dataType)).toArray
  @transient private lazy val headRow = InterpretedUnsafeProjection.createProjection(heads)

  override def createAggregationBuffer(): Buf = new Buf

  override def update(b: Buf, input: InternalRow): Buf =
    updateIn(b, input, TaskContext.getPartitionId())

  /** [[update]] with the input partition given. */
  private[graft] def updateIn(b: Buf, input: InternalRow, partition: Int): Buf = {
    val key = children.head.eval(input).asInstanceOf[Long]
    val s = b.segment(partition, key, k)
    var c = 0
    while (c < k) {
      val v = valueExprs(c).eval(input)
      if (v != null) {
        // the value may point into a reused row: copy before keeping
        val kept = InternalRow.copyValue(v)
        if (s.n(c) == 0L) s.first(c) = kept
        else {
          val d = cmps(c)(v, s.last(c))
          if (d > 0) s.incr(c) += 1 else if (d < 0) s.decr(c) += 1 else s.eq(c) += 1
        }
        s.last(c) = kept
        s.n(c) += 1
      }
      c += 1
    }
    // the projection's row is reused: copy before keeping
    if (partition < MaxPartitions && s.rows.size < n) s.rows += headRow(input).copy()
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    b.segments.foreach(s => a.add(s))
    a
  }

  override def eval(b: Buf): Any = {
    val byKey = b.segments.groupBy(_.key).toSeq.sortBy(_._1)
    new GenericArrayData(byKey.map { case (key, segs) =>
      val ordered = segs.toSeq.sortBy(_.partition)
      val cols = (0 until k).map { c =>
        var incr = 0L; var decr = 0L; var eq = 0L
        var prevLast: Any = null
        ordered.foreach { s =>
          if (s.n(c) > 0) {
            incr += s.incr(c); decr += s.decr(c); eq += s.eq(c)
            if (prevLast != null) { // one comparison per partition seam
              val d = cmps(c)(s.first(c), prevLast)
              if (d > 0) incr += 1 else if (d < 0) decr += 1 else eq += 1
            }
            prevLast = s.last(c)
          }
        }
        InternalRow(incr, decr, eq)
      }
      InternalRow(key, new GenericArrayData(cols.toArray[Any]),
        new GenericArrayData(ordered.iterator.flatMap(_.rows).take(n).toArray[Any]))
    }.toArray[Any])
  }

  /** A segment's fields: partition, key, then per column n, incr,
    * decr, eq, first and last. */
  @transient private lazy val segTypes: Seq[DataType] =
    Seq(IntegerType, LongType) ++ values.flatMap(v =>
      Seq(LongType, LongType, LongType, LongType, v.dataType, v.dataType))
  @transient private lazy val toUnsafe = InterpretedUnsafeProjection.createProjection(
    segTypes.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })

  /** Layout: the segment count (int), then per segment its fields as an
    * UnsafeRow, its kept-row count (int) and each kept row as an
    * UnsafeRow, every UnsafeRow length-prefixed (int). */
  override def serialize(b: Buf): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val data = new java.io.DataOutputStream(out)
    def write(row: UnsafeRow): Unit = {
      data.writeInt(row.getSizeInBytes)
      data.write(row.getBytes, 0, row.getSizeInBytes)
    }
    data.writeInt(b.segments.size)
    b.segments.foreach { s =>
      val fields = new Array[Any](segTypes.size)
      fields(0) = s.partition; fields(1) = s.key
      for (c <- 0 until k) {
        val o = 2 + 6 * c
        fields(o) = s.n(c); fields(o + 1) = s.incr(c); fields(o + 2) = s.decr(c)
        fields(o + 3) = s.eq(c); fields(o + 4) = s.first(c); fields(o + 5) = s.last(c)
      }
      write(toUnsafe(new GenericInternalRow(fields)))
      data.writeInt(s.rows.size)
      s.rows.foreach(write)
    }
    data.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    def read(width: Int): UnsafeRow = {
      val bytes = new Array[Byte](bb.getInt)
      bb.get(bytes)
      val row = new UnsafeRow(width)
      row.pointTo(bytes, bytes.length)
      row
    }
    val b = new Buf
    for (_ <- 0 until bb.getInt) {
      val row = read(segTypes.size)
      val s = new Segment(row.getInt(0), row.getLong(1), k)
      for (c <- 0 until k) {
        val o = 2 + 6 * c
        s.n(c) = row.getLong(o); s.incr(c) = row.getLong(o + 1)
        s.decr(c) = row.getLong(o + 2); s.eq(c) = row.getLong(o + 3)
        s.first(c) = row.get(o + 4, segTypes(o + 4))
        s.last(c) = row.get(o + 5, segTypes(o + 5))
      }
      for (_ <- 0 until bb.getInt) s.rows += read(heads.size)
      b.add(s)
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): OrderSegmentsAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): OrderSegmentsAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): OrderSegmentsAggregate = copy(children = c)
}

object OrderSegmentsAggregate {

  /** Input partitions at or past this one keep no head rows. */
  val MaxPartitions = 16

  /** Whether `got` head rows of a frame of `total` rows are its first
    * `n`: they are when there are `n` of them, or all `total`. */
  def covers(got: Int, n: Int, total: Long): Boolean = got >= n || got >= total

  /** One (partition, key) forward-scan summary over `k` value columns,
    * with the segment's kept head rows. */
  final class Segment(val partition: Int, val key: Long, k: Int) {
    val n = new Array[Long](k)
    val incr = new Array[Long](k)
    val decr = new Array[Long](k)
    val eq = new Array[Long](k)
    val first = new Array[Any](k)
    val last = new Array[Any](k)
    val rows = mutable.ArrayBuffer.empty[UnsafeRow]
  }

  /** Segments by (partition, key); the segment last updated is kept at
    * hand, since a partition's rows usually run in one key. */
  final class Buf {
    private val byId = mutable.HashMap.empty[(Int, Long), Segment]
    private var current: Segment = null

    def segments: Iterable[Segment] = byId.values

    def segment(partition: Int, key: Long, k: Int): Segment = {
      if (current == null || current.key != key || current.partition != partition)
        current = byId.getOrElseUpdate((partition, key), new Segment(partition, key, k))
      current
    }

    /** Add a segment from another buffer: (partition, key) pairs are
      * disjoint across tasks, so it is never already present. */
    def add(s: Segment): Unit = {
      require(!byId.contains((s.partition, s.key)),
        s"order segment (partition ${s.partition}, key ${s.key}) merged twice")
      byId.update((s.partition, s.key), s)
    }
  }

  val ColumnType: StructType = StructType(Seq(
    StructField("n_incr", LongType, nullable = false),
    StructField("n_decr", LongType, nullable = false),
    StructField("n_eq", LongType, nullable = false)))

  /** The order of two non-null Catalyst values of type `t`. */
  private[functions] def comparator(t: DataType): (Any, Any) => Int = t match {
    case _: NumericType => (a, b) => java.lang.Double.compare(toDouble(a), toDouble(b))
    case _: StringType => (a, b) =>
      utf16Compare(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    case NullType => (_, _) => 0
    case BinaryType => (a, b) =>
      java.util.Arrays.compareUnsigned(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case _ =>
      val ord = TypeUtils.getInterpretedOrdering(t)
      (a, b) => ord.compare(a, b)
  }

  private def toDouble(x: Any): Double = x match {
    case v: Double => v
    case v: Long => v.toDouble
    case v: Int => v.toDouble
    case v: Float => v.toDouble
    case v: Short => v.toDouble
    case v: Byte => v.toDouble
    case v: org.apache.spark.sql.types.Decimal => v.toDouble
  }

  /** `String.compareTo` order over UTF-8 bytes: byte order is code-point
    * order, which UTF-16 code units follow except that a supplementary
    * character (a surrogate pair, U+D800..) sorts below U+E000..U+FFFF.
    * So only the first differing code point's lead bytes need a look:
    * 0xF0.. (4 bytes, supplementary) against 0xEE/0xEF (U+E000..U+FFFF)
    * reverses the byte order. */
  private[functions] def utf16Compare(a: UTF8String, b: UTF8String): Int = {
    val c = a.binaryCompare(b)
    if (c == 0) return 0
    val n = math.min(a.numBytes, b.numBytes)
    var i = 0
    while (i < n && a.getByte(i) == b.getByte(i)) i += 1
    if (i == n) return c // one is a prefix of the other
    while (i > 0 && (a.getByte(i) & 0xC0) == 0x80) i -= 1
    val la = a.getByte(i) & 0xFF
    val lb = b.getByte(i) & 0xFF
    def bmpHigh(x: Int) = x == 0xEE || x == 0xEF
    if (la >= 0xF0 && bmpHigh(lb)) -1
    else if (lb >= 0xF0 && bmpHigh(la)) 1
    else c
  }

  /** Order summaries of the `values` columns and the first `n` rows of
    * the `head` columns per (input partition, `key` value); `key` must be
    * a non-null long. */
  def apply(key: Column, values: Seq[Column], head: Seq[Column], n: Int): Column =
    GraftSessions.column(OrderSegmentsAggregate(
      (key +: (values ++ head)).map(GraftSessions.expression), values.size, n)
      .toAggregateExpression())
}
