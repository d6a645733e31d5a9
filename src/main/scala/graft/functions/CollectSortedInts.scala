package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Growable primitive int buffer — the whole point is NO per-element
  * boxing (see [[CollectSortedInts]]). */
final class IntBuf(var arr: Array[Int], var n: Int) {
  def add(v: Int): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = v; n += 1
  }
  def addAll(o: IntBuf): Unit = {
    if (n + o.n > arr.length)
      arr = java.util.Arrays.copyOf(arr, math.max(n * 2, n + o.n))
    System.arraycopy(o.arr, 0, arr, n, o.n)
    n += o.n
  }
}

/** `graft_collect_ints(v)` — collect_set over ints returning the
  * DISTINCT SORTED `array<int>`, as a primitive-buffer typed aggregate.
  *
  * The triangle pipeline builds adjacency twice (neighbor sets from the
  * half-edge stream, out-adjacency from oriented edges), and profiling
  * the sf1 run put the dominant CPU in exactly those stages:
  * `collect_set`/`collect_list` are ObjectHashAggregate buffers over
  * boxed `AnyRef` elements — tens of millions of Integer allocations,
  * hashed into Scala sets per group, then sorted again by `sort_array`.
  * This aggregate appends raw ints into a growable primitive array
  * (duplicates kept — append is O(1) with zero allocation), serializes
  * partials as packed bytes, and sort+dedups ONCE at eval. Same result
  * as `sort_array(collect_set(v))`, no boxing anywhere.
  */
case class CollectSortedInts(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[IntBuf] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case IntegerType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${CollectSortedInts.FuncName} expects int, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): IntBuf = new IntBuf(new Array[Int](8), 0)

  override def update(b: IntBuf, input: InternalRow): IntBuf = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Int])
    b
  }

  override def merge(b: IntBuf, o: IntBuf): IntBuf = { b.addAll(o); b }

  override def eval(b: IntBuf): Any = {
    // sort/dedup a COPY — eval must not mutate a live buffer (a window /
    // running-aggregate use evals the same buffer repeatedly, interleaved
    // with updates; in-place compaction left a stale tail under b.n)
    val a = java.util.Arrays.copyOf(b.arr, b.n)
    java.util.Arrays.sort(a)
    var u = 0
    var i = 0
    while (i < a.length) {
      if (u == 0 || a(i) != a(u - 1)) { a(u) = a(i); u += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(a, u))
  }

  override def serialize(b: IntBuf): Array[Byte] = {
    val out = new Array[Byte](4 + b.n * 4)
    val bb = java.nio.ByteBuffer.wrap(out)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putInt(b.arr(i)); i += 1 }
    out
  }

  override def deserialize(bytes: Array[Byte]): IntBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val arr = new Array[Int](math.max(n, 8))
    var i = 0
    while (i < n) { arr(i) = bb.getInt; i += 1 }
    new IntBuf(arr, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectSortedInts =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectSortedInts =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CollectSortedInts =
    copy(child = newChild)
}

object CollectSortedInts {
  val FuncName = "graft_collect_ints"

  def apply(v: Column): Column =
    GraftSessions.column(CollectSortedInts(GraftSessions.expression(v)).toAggregateExpression())
}
