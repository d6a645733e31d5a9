package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.functions.BucketGradAggregate
import org.scalatest.funsuite.AnyFunSuite

/** BucketGradAggregate (the quality_classifier GD-round gradient) must equal
  * the explode-and-shuffle formulation it replaced, long for long —
  * the r20 optimization changed the aggregation SHAPE (fixed-size
  * array fold instead of explode → groupBy(b)), never the sums. */
class BucketGradAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val NB = 8

  test("array aggregate equals explode+groupBy gradient sums on real buckets") {
    import spark.implicits._
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.HashBuckets(col("text"), NB, asSet = true).as("bs"),
        // deterministic pseudo-gradient in (-1, 1) at 6dp, like p − y
        round(sin(col("doc_id").cast("double")), 6).as("g"))
    val sums = docs
      .select(col("bs"), round(col("g") * 1e6).cast("long").as("gs"))
      .agg(BucketGradAggregate(col("bs"), col("gs"), NB))
      .head().getSeq[Long](0)
    assert(sums.length == NB + 1)
    val exploded = docs
      .select(explode(concat(col("bs"), array(lit(-1L)))).as("b"), col("g"))
      .groupBy("b")
      .agg(sum(round(col("g") * 1e6).cast("long")).as("gb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (b <- 0 until NB)
      assert(sums(b) == exploded.getOrElse(b.toLong, 0L),
        s"bucket $b: array=${sums(b)} explode=${exploded.get(b.toLong)}")
    assert(sums(NB) == exploded(-1L), "bias slot must equal sentinel b=-1")
  }

  test("NULL bucket array contributes nothing, like explode(concat(NULL,...))") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(0L, 2L)), 5L),
      (None: Option[Seq[Long]], 100L),
      (Some(Seq(2L)), -3L)
    ).toDF("bs", "gs")
    val sums = df.agg(BucketGradAggregate(col("bs"), col("gs"), 4)).head().getSeq[Long](0)
    assert(sums == Seq(5L, 0L, 2L, 0L, 2L),
      "NULL-bs row must be skipped entirely (bias included)")
  }

  test("out-of-range bucket id fails by name instead of aliasing the bias") {
    // b == nBuckets used to land silently in the bias slot; a negative
    // id threw a bare ArrayIndexOutOfBoundsException
    val agg = BucketGradAggregate(BoundReference(0, ArrayType(LongType), true),
      BoundReference(1, LongType, false), 4)
    for (bad <- Seq(4L, -1L, 1L << 32)) {
      val e = intercept[IllegalArgumentException] {
        agg.update(agg.createAggregationBuffer(),
          InternalRow(new GenericArrayData(Array[Any](0L, bad)), 1L))
      }
      assert(e.getMessage.contains(s"bucket id $bad outside [0, 4)"),
        e.getMessage)
    }
    // and through Spark: the task failure carries the same message
    import spark.implicits._
    val df = Seq((Seq(1L, 4L), 5L)).toDF("bs", "gs")
    val e = intercept[Exception] {
      df.agg(BucketGradAggregate(col("bs"), col("gs"), 4)).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("bucket id 4 outside [0, 4)")), e.toString)
  }

  test("empty input yields the zero buffer, not null") {
    import spark.implicits._
    val df = Seq.empty[(Seq[Long], Long)].toDF("bs", "gs")
    val sums = df.agg(BucketGradAggregate(col("bs"), col("gs"), 2)).head().getSeq[Long](0)
    assert(sums == Seq(0L, 0L, 0L))
  }
}
