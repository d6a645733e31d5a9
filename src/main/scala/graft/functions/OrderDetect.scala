package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Order detection (SURVEY §2.4; reference order_column_profile.py:374-413
  * `_get_data_order`, merge `:100-263`): classify each column as
  * ascending / descending / constant / random over a defined row order.
  *
  * Scale shape: a naive `lag() OVER (ORDER BY key)` globally sorts into
  * ONE partition — a scale-killer. Here the data is range-partitioned on
  * the order key (or taken in natural scan order), each partition computes
  * its local (first, last, nIncr, nDecr, nEq) summary in a single forward
  * pass, and the driver merges the P summaries in partition order, adding
  * the one cross-boundary comparison per seam — the same batch-merge
  * algebra the reference applies between chunks. Cost: one pass, no
  * global sort, O(P × columns) driver state.
  */
object OrderDetect {

  /** Per-column, per-partition forward-scan summary. `first`/`last` are
    * the first/last non-null values in partition row order. */
  final case class ColSummary(
      n: Long, first: Any, last: Any, nIncr: Long, nDecr: Long, nEq: Long)

  final case class OrderResult(
      order: String, nIncr: Long, nDecr: Long, nEq: Long)

  /** Compare two cells of the same column: numeric when both are numbers,
    * lexicographic for strings (the reference casts to float else compares
    * as str, order_column_profile.py:374-413). */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case _ => a.toString.compareTo(b.toString)
  }

  private def classify(nIncr: Long, nDecr: Long, nEq: Long): String =
    if (nIncr == 0 && nDecr == 0) "constant"
    else if (nDecr == 0) "ascending"
    else if (nIncr == 0) "descending"
    else "random"

  /** The verdict on a column with no values. */
  val EmptyVerdict: String = classify(0L, 0L, 0L)

  /** Detect order of `valCols` when rows are ordered by `keyCol`.
    * Range-repartitions on the key (so partitions tile the key space in
    * order), sorts within partitions, summarizes per partition, merges on
    * the driver. */
  def detect(df: DataFrame, keyCol: String, valCols: Seq[String],
      partitions: Int = 0): Map[String, OrderResult] = {
    val p = if (partitions > 0) partitions
      else df.sparkSession.sparkContext.defaultParallelism
    val arranged = df.select((keyCol +: valCols).map(col): _*)
      .repartitionByRange(p, col(keyCol))
      .sortWithinPartitions(keyCol)
    summarizeAndMerge(arranged, valCols, keyed = true)
  }

  /** Detect order in the DataFrame's natural scan order (the reference's
    * file-row-order semantics): per input partition in partition-index
    * order, no shuffle at all. */
  def detectNatural(df: DataFrame, valCols: Seq[String]): Map[String, OrderResult] =
    summarizeAndMerge(df.select(valCols.map(col): _*), valCols, keyed = false)

  /** Grouped [[detectNatural]] for [[graft.profiler.Profiler.profileSplit]]:
    * one order result set PER split-key value, from the SAME single
    * forward pass (per-partition per-key accumulators, then the driver
    * seam-merge applied per key in partition order). A filter preserves
    * partition structure and row order, so each key's summaries see
    * exactly the row subsequence `profile(df.filter(key === k))` would —
    * the results are deterministic and identical, with the scan count
    * independent of k like the split profiler's other passes.
    *
    * `df` must be (split key LONG, valCols…) with the key first and
    * non-null. Driver state: O(P × k × columns) summaries. */
  def detectNaturalSplit(df: DataFrame, valCols: Seq[String])
      : Map[Long, Map[String, OrderResult]] = {
    val nCols = valCols.size
    val summaries: Array[(Int, Long, Array[ColSummary])] =
      df.rdd.mapPartitionsWithIndex { (pid, it) =>
        val byKey =
          scala.collection.mutable.LinkedHashMap.empty[Long, Array[ColSummary]]
        it.foreach { row =>
          val s = byKey.getOrElseUpdate(row.getLong(0),
            Array.fill(nCols)(ColSummary(0L, null, null, 0L, 0L, 0L)))
          updateRow(s, row, offset = 1, nCols)
        }
        byKey.iterator.map { case (k, s) => (pid, k, s) }
      }.collect()
    summaries.groupBy(_._2).map { case (k, parts) =>
      k -> mergeInPartitionOrder(parts.sortBy(_._1).map(_._3), valCols)
    }
  }

  private def summarizeAndMerge(
      df: DataFrame, valCols: Seq[String], keyed: Boolean): Map[String, OrderResult] = {
    val offset = if (keyed) 1 else 0
    val nCols = valCols.size
    // one Row per (partition): [partId, per-col summaries as packed Rows]
    val summaries: Array[(Int, Array[ColSummary])] =
      df.rdd.mapPartitionsWithIndex { (pid, it) =>
        val s = Array.fill(nCols)(ColSummary(0L, null, null, 0L, 0L, 0L))
        it.foreach(row => updateRow(s, row, offset, nCols))
        Iterator.single((pid, s))
      }.collect()
    mergeInPartitionOrder(summaries.sortBy(_._1).map(_._2), valCols)
  }

  /** Fold one row into the per-column summaries (partition-local). */
  private def updateRow(s: Array[ColSummary], row: Row, offset: Int,
      nCols: Int): Unit = {
    var c = 0
    while (c < nCols) {
      val v = row.get(c + offset)
      if (v != null) {
        val cur = s(c)
        if (cur.n == 0L) s(c) = ColSummary(1L, v, v, 0L, 0L, 0L)
        else {
          val d = cmp(v, cur.last)
          s(c) = ColSummary(cur.n + 1, cur.first, v,
            cur.nIncr + (if (d > 0) 1 else 0),
            cur.nDecr + (if (d < 0) 1 else 0),
            cur.nEq + (if (d == 0) 1 else 0))
        }
      }
      c += 1
    }
  }

  /** Driver seam-merge of per-partition summaries in partition order. */
  private def mergeInPartitionOrder(ordered: Array[Array[ColSummary]],
      valCols: Seq[String]): Map[String, OrderResult] =
    valCols.zipWithIndex.map { case (name, c) =>
      var nIncr = 0L; var nDecr = 0L; var nEq = 0L
      var prevLast: Any = null
      ordered.foreach { parts =>
        val s = parts(c)
        if (s.n > 0) {
          nIncr += s.nIncr; nDecr += s.nDecr; nEq += s.nEq
          if (prevLast != null) { // one comparison per partition seam
            val d = cmp(s.first, prevLast)
            if (d > 0) nIncr += 1 else if (d < 0) nDecr += 1 else nEq += 1
          }
          prevLast = s.last
        }
      }
      name -> OrderResult(classify(nIncr, nDecr, nEq), nIncr, nDecr, nEq)
    }.toMap

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
        StructField("n_incr", org.apache.spark.sql.types.LongType, false),
        StructField("n_decr", org.apache.spark.sql.types.LongType, false),
        StructField("n_eq", org.apache.spark.sql.types.LongType, false))))
      .orderBy("col_name")
  }
}
