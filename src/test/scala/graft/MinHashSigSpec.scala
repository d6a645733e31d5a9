package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MinHashSig

/** The fused document-local MinHashSig must equal the declarative
  * explode → hash → 16-min-groupBy formulation it replaced, for both
  * hash families (the md5 family is also what the DuckDB oracle
  * computes). */
class MinHashSigSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def composed(useMd5: Boolean) = {
    import spark.implicits._
    val texts = Seq(
      "", "ab", "exact", "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaa", "ünïcödé shingles ✓ 漢字漢字漢字 mixed",
      ("spark hash join " * 20).trim)
    val c = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sh = c
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - 4, lit(1)))).as("i"))
      .select(col("doc_id"), col("text").substr(col("i"), lit(5)).as("sh"))
    val withAB =
      if (useMd5) sh
        .withColumn("h", md5(col("sh")))
        .select(col("doc_id"),
          conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("a"),
          (conv(substring(col("h"), 9, 8), 16, 10).cast("long")
            .bitwiseOR(lit(1L))).as("b"))
      else sh
        .withColumn("h", xxhash64(col("sh")))
        .select(col("doc_id"),
          col("h").bitwiseAND(lit(4294967295L)).as("a"),
          shiftrightunsigned(col("h"), 32).bitwiseOR(lit(1L)).as("b"))
    val mins = (0 until MinHashSig.NumPerm).map { p =>
      min((col("a") + lit(p.toLong) * col("b")) % lit(4294967296L)).as(s"mh$p")
    }
    val ref = withAB.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val fast = c.select(col("doc_id"),
      MinHashSig(col("text"), useMd5).as("s"))
    (ref.collect().map(r => r.getLong(0) ->
        (1 to MinHashSig.NumPerm).map(r.getLong).toSeq).toMap,
      fast.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap)
  }

  test("md5 family matches the composed formulation") {
    val (ref, fast) = composed(useMd5 = true)
    assert(ref.keySet == fast.keySet)
    ref.foreach { case (id, sig) => assert(fast(id) == sig, s"doc $id") }
  }

  test("xxhash64 family matches the composed formulation") {
    val (ref, fast) = composed(useMd5 = false)
    assert(ref.keySet == fast.keySet)
    ref.foreach { case (id, sig) => assert(fast(id) == sig, s"doc $id") }
  }
}
