package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed re-layout for co-located joins (SURVEY §7 scale notes): write
  * both sides of a recurring large join bucketed + sorted on the join
  * key, and the join plans with ZERO exchanges — the shuffle is paid once
  * at write time instead of on every query. This is the 100 TB answer to
  * fact-to-fact joins (dimension joins broadcast instead).
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted external table at `path`. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      key: String, buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  def drop(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")

  /** `f` given a fresh table name, dropped when `f` returns: for bucketed
    * files that are read elsewhere through their own DDL (the bucket id
    * is in each file's name, the bucket spec in the DDL). */
  def withScratchTable[T](spark: SparkSession)(f: String => T): T = {
    val t = "graft_scratch_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try f(t) finally drop(spark, t)
  }

  /** True when the physical plan of `df` contains no shuffle exchange —
    * the property bucketing is meant to buy. */
  def isExchangeFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange")
}
